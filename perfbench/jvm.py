"""Launching the harness and server JVMs on the built classpath."""
import os
import subprocess
import sys

import build

HERE = os.path.dirname(os.path.abspath(__file__))
CORES = 4
HEAP = "2g"
JVM_TIMEOUT_S = 150


def cmd(work, main, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens] +
            # no hsperfdata file under /tmp: runs write only inside the checkout
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
             "-Dspark.ui.enabled=false",
             "-cp", build.classpath(), main] + args)


def env():
    e = dict(os.environ)
    e["SPARK_GRAFT_TMPFS"] = "off"  # keep temp files inside the checkout
    e["SPARK_GRAFT_CPUS"] = str(CORES)
    e.pop("SPARK_GRAFT_MASTER", None)
    return e


def run(work, main, args, log_name):
    log = os.path.join(work, log_name)
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd(work, main, args), stdout=f,
                               stderr=subprocess.STDOUT, env=env(),
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{main} timed out after {JVM_TIMEOUT_S}s; see {log}", log)
    if r.returncode != 0:
        fail(f"{main} exited {r.returncode}", log)


def fail(msg, log=None):
    if log and os.path.exists(log):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    sys.exit(f"perfbench: {msg}")
