"""The benchmark's workloads, their query lists and the metric names."""
import os

import gen

# (name, unit) of every per-layer metric a traced run reports
PER_LAYER = [{"name": n, "unit": u} for n, u in [
    ("query.build_ms", "ms"), ("query.plan_ms", "ms"),
    ("query.sched_gap_ms", "ms"), ("query.jobs", "count"),
    ("query.stages", "count"), ("query.tasks", "count"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.spill_bytes", "bytes"), ("exec.busy_share", "ratio"),
    ("exec.serial_stage_s", "s"),
    ("scan.rows", "count"), ("scan.bytes", "bytes"),
    ("exchange.write_bytes", "bytes"), ("exchange.read_bytes", "bytes"),
    ("exchange.fetch_wait_ms", "ms"), ("plan.exchanges", "count"),
    ("cep.wall_s", "s"), ("window.wall_s", "s"), ("forecast.wall_s", "s"),
    ("vpl.wall_s", "s"), ("stream_twin.wall_s", "s"),
    ("dedup.wall_s", "s"), ("text.wall_s", "s"), ("ann.wall_s", "s"),
    ("vpl.parse_ms", "ms"), ("vpl.compile_ms", "ms"),
    ("stream.batches", "count"), ("stream.trigger_ms", "ms"),
    ("stream.add_batch_ms", "ms"), ("stream.commit_ms", "ms"),
    ("state.rows_peak", "count"), ("state.bytes_peak", "bytes"),
    ("state.commit_ms", "ms"),
    ("sources.stage_phase_ms", "ms"), ("server.processing_ms", "ms"),
    ("server.http_ms", "ms"), ("server.jobs_per_inject", "count"),
    ("server.late_rows", "count"),
]]

def layer_metrics(m):
    """Every per-layer metric as (value, unit), 0 where a layer is idle."""
    return {s["name"]: (float(m.get(s["name"], 0.0)), s["unit"]) for s in PER_LAYER}


FAMILIES = ["cep", "window", "forecast", "vpl", "stream_twin", "dedup", "text", "ann"]
_PREFIX = {"p": "cep", "w": "window", "f": "forecast", "x": "vpl", "s": "stream_twin",
           "d": "dedup", "t": "text", "pipe": "text", "v": "ann"}


def family(query):
    head = query.split("_")[0].rstrip("0123456789")
    return _PREFIX[head]


class Workload:
    def __init__(self, name, kind, queries=(), rows=None, inputs=None, times_vpl=False):
        self.name, self.kind = name, kind
        # the traced run also times parse/compile of perfbench/vpl/*.vpl
        self.times_vpl = times_vpl
        self.queries = list(queries)
        # query -> (oracle rows at scale 1, "linear" | "fixed" in the
        # scale factor); see README
        self.rows = rows or {}
        self.inputs = inputs

    def make_inputs(self, seed, small, data, warm):
        """Timed input under `data`, the cold pass's small input under `warm`."""
        self.inputs(seed, WARM_SCALE, warm)
        return self.inputs(seed, SMALL_SCALE if small else 1.0, data)


WARM_SCALE = 0.05
SMALL_SCALE = 0.1


def _events_inputs(seed, scale, data):
    t = gen.events(seed, scale)
    gen.write(t, os.path.join(data, "events.parquet"))
    return {"rows": t.num_rows, "scale": scale, "events": t.num_rows}


def _corpus_inputs(seed, scale, data):
    docs = gen.documents(seed, int(3000 * scale))
    vecs = gen.embeddings(seed, int(600 * scale))
    gen.write(docs, os.path.join(data, "documents.parquet"))
    gen.write(vecs, os.path.join(data, "embeddings.parquet"))
    return {"rows": docs.num_rows, "scale": scale, "documents": docs.num_rows,
            "embeddings": vecs.num_rows}


CEP = Workload("cep_events", "batch", [
    "p1_seq2", "p2_seq3", "p3_negation", "p7_kleene", "p6_trend_count",
    "p10_multi_trend", "w1_tumbling", "w3_session", "w4_count_window",
    "f2_pst", "f4_hawkes", "x1_vpl_seq", "x2_vpl_agg", "x6_vpl_trend_agg",
    "s2_stream_pattern", "s16_stream_trend"], inputs=_events_inputs, times_vpl=True,
    rows={"p1_seq2": (180, "linear"), "p2_seq3": (115, "linear"),
          "p3_negation": (19800, "linear"), "p7_kleene": (47, "linear"),
          "p6_trend_count": (19900, "linear"), "p10_multi_trend": (58400, "linear"),
          "w1_tumbling": (3600, "fixed"), "w3_session": (98500, "linear"),
          "w4_count_window": (9320, "linear"), "f2_pst": (775, "fixed"),
          "f4_hawkes": (100000, "linear"), "x1_vpl_seq": (180, "linear"),
          "x2_vpl_agg": (7350, "linear"), "x6_vpl_trend_agg": (3390, "linear"),
          "s2_stream_pattern": (180, "linear"), "s16_stream_trend": (19900, "linear")})

CORPUS = Workload("corpus_prep", "batch", [
    "d1_exact_dedup", "d7_dup_spans", "t9_freq_quality", "t12_gopher_filters",
    "t14_bpe_merges", "t17_lm_fluency", "t19_ccnet_buckets",
    "pipe1_corpus", "v3_knn_lsh", "v6_knn_ivfpq"], inputs=_corpus_inputs,
    rows={"d1_exact_dedup": (2990, "linear"), "d7_dup_spans": (3000, "linear"),
          "t9_freq_quality": (3000, "linear"), "t12_gopher_filters": (3000, "linear"),
          "t14_bpe_merges": (12, "fixed"),
          "t17_lm_fluency": (3000, "linear"), "t19_ccnet_buckets": (3000, "linear"),
          "pipe1_corpus": (16, "fixed"), "v3_knn_lsh": (100, "fixed"),
          "v6_knn_ivfpq": (100, "fixed")})

LIVE = Workload("live_inject", "live")

ALL = {w.name: w for w in (CEP, CORPUS, LIVE)}
