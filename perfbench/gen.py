"""Seeded input generators for the benchmark workloads.

Every table is derived from ``--seed`` alone: the same seed and scale
give byte-identical parquet files. Shapes follow the repository's
synthetic test tables (TESTDATA.md): column names, physical types and
value distributions match, so every registry query compiles and emits
rows.

events     ``user_id`` uniform over ``1500 * scale`` users, five event
           types uniform, ``value`` exponential (mean 50) rounded to
           cents, ``props`` ``{"k": 0..99}``, ``ts`` strictly
           increasing over 30 days. Scaling multiplies users and events
           together, so the per-user event rate (what every SASE,
           session and count-window query keys on) stays that of the
           base table and per-user outputs grow linearly with ``scale``.
documents  single-line bags of the 30-word vocabulary of the base
           corpus (stopwords ``the``/``a`` included at the base share),
           10-100 words, ``lang`` and ``source`` mixes of the base
           corpus; 5 % are an earlier document plus the token ``dup``
           (near-duplicates) and 0.2 % exact copies.
embeddings 64-dim unit vectors around ten random unit centres with the
           base table's spread; ``label`` is the centre.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_EVENTS = 100_000
BASE_USERS = 1_500
SPAN_US = 30 * 86_400 * 1_000_000
EPOCH_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.412, 0.150, 0.149, 0.148, 0.141])


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def events(seed, scale):
    rng = _rng(seed, 1)
    n = int(BASE_EVENTS * scale)
    users = int(BASE_USERS * scale)
    # sorted draws plus the index make ts strictly increasing, so event
    # order (event_id) is consistent with event time
    ts = np.sort(rng.integers(0, SPAN_US - n, size=n)) + np.arange(n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(EPOCH_US + ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, size=n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def documents(seed, n_docs):
    rng = _rng(seed, 2)
    texts = []
    for i in range(n_docs):
        u = rng.random()
        if i > 0 and u < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and u < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), size=k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, size=n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(seed, n_vecs, dim=64, n_labels=10):
    rng = _rng(seed, 3)
    centres = rng.normal(size=(n_labels, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, n_labels, size=n_vecs).astype(np.int32)
    v = centres[label] * 0.07 + rng.normal(scale=0.125, size=(n_vecs, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).reshape(-1))
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vecs * dim + 1, dim, dtype=np.int32)), flat),
        "label": pa.array(label),
    })


def write(table, path):
    # one row group per file, as the base tables are staged
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
