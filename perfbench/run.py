#!/usr/bin/env python3
"""The repository's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and the benchmark's JVM
harness from source (scalac from the Spark jars, into .bench_build/), generates
the workload's inputs from the seed, runs the workload, checks every output,
and prints the metrics. The last line of standard output is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics (from a traced run) with --trace 1. The line
before it is a JSON object describing the run in full. Any failed operation
makes the command exit 1. See perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

BUILD = ".bench_build/perfbench"
RUNS = ".bench_run"
DEADLINE_S = 170.0  # every run must end within 180 s

# Java 17 needs these when a SparkSession is created outside spark-submit
# (the same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# End-to-end metrics, reported on every workload with --trace 0.
END_TO_END = [
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
    ("op_p50_ms", "ms"),
    ("op_tail_ms", "ms"),
]

STATE_BUILDERS = [
    "rarity_doc_tf", "rarity_tf", "jaccard_pairs", "minhash_wide128_sig", "minhash_wide_sig",
    "jaccard_pairs_banded", "containment_pairs", "jaccard_edges", "cc_labels_08",
    "passage_windows_n4", "passage_windows_n8", "simhash_sig", "simhash_wide_sig",
    "simhash_bands16", "simhash_bands60", "minhash_sig", "band_candidates",
    "incr_corpus_bands", "bpe_merges", "gopher_scored", "classifier_scored",
    "fingerprint_state", "frontier_state", "topk_cosine", "ivf_assign", "ivf_kmeans_assign",
    "ann_bucket", "pq_codes", "pq_codes256", "ivf_serve_assign", "serve_insert_assign",
    "ivf_serve_pq_codes", "ivf2_assign", "mm_image_cells", "bucketed_facts", "pagerank_edges",
]
FAMILIES = ["rel", "cgt", "txt", "dd", "sim", "mm", "ingest"]

# Per-layer metrics, reported on every workload with --trace 1; a layer a
# workload never calls reads 0 there.
PER_LAYER = (
    [("session.start_s", "s"), ("session.warmup_s", "s"),
     ("sources.busy_s", "s"), ("sources.cpu_s", "s"), ("sources.jobs", "count"),
     ("sources.rows_read", "count"), ("sources.rows_kept", "count"),
     ("model.render_s", "s"), ("model.render_cpu_s", "s"), ("model.values_rendered", "count"),
     ("pipeline.merge_s", "s"), ("pipeline.merge_jobs", "count"), ("pipeline.sort_s", "s"),
     ("pipeline.write_s", "s"), ("pipeline.jobs", "count"), ("pipeline.shuffle_mb", "MB"),
     ("pipeline.lines_read_back", "count"), ("pipeline.write_amp", "ratio")]
    + [("state.%s_s" % b, "s") for b in STATE_BUILDERS]
    + [("state.cpu_s", "s"), ("state.gc_s", "s"), ("state.shuffle_mb", "MB"),
       ("state.spill_mb", "MB"), ("state.jobs", "count"), ("state.resident_mb", "MB")]
    + [("queries.%s.%s" % (f, m), u) for f in FAMILIES for m, u in
       [("busy_s", "s"), ("plan_s", "s"), ("cpu_s", "s"), ("shuffle_mb", "MB"),
        ("spill_mb", "MB"), ("exchanges", "count"), ("jobs", "count")]]
    + [("trace.overhead_s", "s")]
)

# Workload sizes. `tiny` is for the benchmark's own smoke tests.
SIZES = {
    "full": {
        "setups": 3,
        # ledger_appends: a pool of monthly exports rotating through the four
        # brokers; a pass is `appends` appends, the sink restarting every `cycle`.
        "append_rows": {"freetrade": 300, "ii": 250, "fidelity": 200, "bullionvault": 12},
        "append_pool": 3, "appends": 40, "cycle": 10,
        "warm_rows": 50,
        # query_surface: GenData tables at this scale factor; every state
        # builder, and every 8th query (plus the small families whole).
        "sf": "0.01", "only": "", "every": 8,
    },
    "tiny": {
        "setups": 2,
        "append_rows": {"freetrade": 30, "ii": 30, "fidelity": 30, "bullionvault": 3},
        "append_pool": 1, "appends": 6, "cycle": 3,
        "warm_rows": 20,
        "sf": "0.01", "only": "^(bucketed_facts|pagerank_edges|q0[1-3]_.*|cgt_.*)$", "every": 1,
    },
}

PINS = os.path.join(HERE, "pins", "query_surface.json")


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources(root):
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    return program, harness


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory build.sbt names as unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m is None:
        fail("no Spark jars: set SPARK_HOME")
    return m.group(1)


def build(root, jars):
    """Compile the program and the harness together; reuse a build of the same
    sources. Returns the class directory."""
    program, harness = sources(root)
    if not program:
        fail("no program sources under src/main/scala; run from the repository root")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Scala compiler in " + jars)
    classes = os.path.join(root, BUILD, "classes-" + digest(program + harness))
    if os.path.isdir(classes):
        return classes
    for old in glob.glob(os.path.join(root, BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn",
                        "-d", tmp, "-cp", cp] + program + harness,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed:\n" + r.stdout[-4000:])
    os.rename(tmp, classes)
    return classes


def java(jars, classes, main, args, cwd, log, timeout, cpus):
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -UsePerfData: no hsperfdata file in the system temp dir
    cmd = ["java", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # a fixed heap: G1 resizing it on its own made peak RSS vary run to run
    cmd += ["-Xms3g", "-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def query_data(root, jars, classes, sf, cpus, deadline):
    """GenData tables for query_surface, generated once per generator version."""
    gen_src = os.path.join(root, "src/main/scala/graft/GenData.scala")
    d = os.path.join(root, BUILD, "data-sf%s-%s" % (sf, digest([gen_src])))
    if os.path.isfile(os.path.join(d, "done")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    log = os.path.join(d, "gen.log")
    rc = java(jars, classes, "graft.GenData", [os.path.join(d, "tables"), sf], d, log,
              deadline - time.time(), cpus)
    if rc != 0:
        fail("GenData failed (exit %s), see %s" % (rc, log))
    shutil.rmtree(os.path.join(d, "tmp"), ignore_errors=True)
    open(os.path.join(d, "done"), "w").close()
    return d


def ledger_inputs(work, seed, size, corrupt):
    """Generate the exports and a manifest the harness reads."""
    rng = random.Random(seed)
    exports = []
    d = os.path.join(work, "inputs")
    os.makedirs(d)
    # each setup's first operation: an append to a scratch sink
    for i, dialect in enumerate(gen.DIALECTS):
        exports.append(("warm", gen.export(dialect, rng, os.path.join(d, "warm%d" % i),
                                           size["warm_rows"], 0.02)))
    # a monthly export per broker, rotating; each month's dates fall in one year
    for k in range(size["append_pool"]):
        for dialect in gen.DIALECTS:
            exports.append(("op", gen.export(
                dialect, rng, os.path.join(d, "%s%d" % (dialect, k)),
                size["append_rows"][dialect], 0.02, year0=2016 + k, years=1)))
    if corrupt:
        e = exports[-1][1]
        e.expected[0] = e.expected[0] + "0"
    lines = []
    for i, (role, e) in enumerate(exports):
        exp = os.path.join(d, "expected%d.txt" % i)
        with open(exp, "w", encoding="utf-8") as f:
            f.write("".join(l + "\n" for l in e.expected))
        lines.append("\t".join([role, e.dialect, e.path, exp]))
    manifest = os.path.join(work, "manifest.tsv")
    with open(manifest, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    return manifest, [
        {"role": role, "dialect": e.dialect, "rows": e.rows, "dropped": e.dropped,
         "kept": len(e.expected)} for role, e in exports]


def pinned_settings(settings):
    """The session settings a result depends on: all but this run's own dirs."""
    return {k: v for k, v in settings.items()
            if k not in ("spark.sql.warehouse.dir", "spark.local.dir")}


def load_pins(cpus):
    """The pins, if they were taken at this core count; otherwise the run
    stops here, since sums over shuffled rows may add up in another order."""
    with open(PINS) as f:
        pins = json.load(f)
    if pins.get("nproc") != cpus:
        fail("pins taken at nproc=%s, this machine has %d; re-pin with --write-pins"
             % (pins.get("nproc"), cpus))
    return pins


def check_queries(res, pins, corrupt):
    """Compare each query's row count and full-column hash to the pins.
    Returns the failure messages."""
    out = []
    names = res.get("query_names", [])
    if corrupt and names:
        pins = json.loads(json.dumps(pins))
        pins[names[0]]["hash"] = (pins[names[0]].get("hash") or 0) + 1
    for name, rows, h, ok in zip(names, res["query_rows"], res["query_hash"], res["query_ok"]):
        if not ok:
            continue  # already reported by the harness
        pin = pins.get(name)
        if pin is None:
            out.append("query %s: no pinned result" % name)
        elif pin["rows"] != rows:
            out.append("query %s: %d rows, pinned %d" % (name, rows, pin["rows"]))
        elif pin.get("hash") is not None and pin["hash"] != h:
            out.append("query %s: hash %d, pinned %d" % (name, h, pin["hash"]))
    return out


def write_pins(res, cpus):
    """Record this run's results as the pins. A query whose hash differs from
    an earlier pinning run at the same core count and settings is kept by row
    count only; pins taken elsewhere are replaced."""
    pins = {}
    settings = pinned_settings(res["settings"])
    if os.path.exists(PINS):
        with open(PINS) as f:
            old = json.load(f)
        if old.get("nproc") == cpus and old.get("settings") == settings:
            pins = old["queries"]
    for name, rows, h in zip(res["query_names"], res["query_rows"], res["query_hash"]):
        old = pins.get(name)
        if old is not None and old["rows"] != rows:
            fail("query %s: %d rows now, %d before" % (name, rows, old["rows"]))
        keep = old is None or old.get("hash") == h
        pins[name] = {"rows": rows, "hash": h if keep else None}
    os.makedirs(os.path.dirname(PINS), exist_ok=True)
    with open(PINS, "w") as f:
        json.dump({"data": "graft.GenData at sf 0.01", "nproc": cpus, "settings": settings,
                   "count_only": sorted(k for k, v in pins.items() if v["hash"] is None),
                   "queries": dict(sorted(pins.items()))}, f, indent=1)
        f.write("\n")


def setups(res):
    return [a + b for a, b in zip(res["setup_start_s"], res["setup_warmup_s"])]


def end_to_end(res):
    ops = res["op_ms"]
    # the tail's percentile follows the operations of one pass, so it does not
    # move when more passes fit in the run
    per_pass = len(ops) // len(res["pass_s"])
    p, tail_ms = stats.tail(ops, per_pass)
    values = {
        # the first set-up is the cold one, what every fresh invocation pays
        "setup_s": setups(res)[0],
        "pass_s": stats.median(res["pass_s"]),
        "cpu_s": stats.median(res["pass_cpu_s"]),
        "peak_rss_mb": res["peak_rss_mb"],
        "op_p50_ms": stats.median(ops),
        "op_tail_ms": tail_ms,
    }
    return values, {"ops": len(ops), "ops_per_pass": per_pass, "tail_percentile": p}


def per_layer(res):
    layers = dict(res["layers"])
    layers["session.start_s"] = res["setup_start_s"][0]
    layers["session.warmup_s"] = res["setup_warmup_s"][0]
    return {name: float(layers.get(name, 0.0)) for name, _ in PER_LAYER}


def workload_metrics(workload, res, failed, attempted):
    """The workload-specific figures, reported in the run description."""
    ops = res["op_ms"]
    m = {"error_rate": failed / float(attempted)}
    if workload == "ledger_appends":
        m["append_p50_ms"] = stats.median(ops)
        if stats.tail_percentile(len(ops) // len(res["pass_s"])) == 90.0:
            m["append_p90_ms"] = stats.percentile(ops, 90.0)
    else:
        qs = res["query_s"]
        m["state_build_s"] = sum(res["state_s"])
        m["queries_s"] = sum(qs)
        m["query_p50_s"] = stats.median(qs)
        m["query_p90_s"] = stats.percentile(qs, 90.0)
    return m


def git_commit(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def stop(signum, frame):
    # turn a kill into SystemExit, so that the harness JVM is killed and the
    # run's directory deleted on the way out
    raise SystemExit(128 + signum)


def main(argv=None):
    signal.signal(signal.SIGTERM, stop)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ledger_appends", "query_surface"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: change one expected line or pinned hash; the run must fail")
    ap.add_argument("--write-pins", action="store_true",
                    help="query_surface: run every query and record its row count and hash "
                         "as the pins")
    a = ap.parse_args(argv)

    root = os.getcwd()
    start = time.time()
    load_start = os.getloadavg()
    cpus = os.cpu_count() or 1
    size = SIZES[a.size]
    jars = spark_jars(root)
    classes = build(root, jars)
    # the build may take long on a fresh checkout; the measured run gets its own budget
    deadline = time.time() + DEADLINE_S

    work = os.path.join(root, RUNS, "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["workload=" + a.workload, "work=" + work, "out=" + os.path.join(work, "result.json"),
                "trace=%d" % a.trace, "seconds=%g" % a.seconds, "setups=%d" % size["setups"],
                "cpus=%d" % cpus]
        inputs = {"generator": "graft.GenData", "sf": size["sf"]}
        if a.workload == "query_surface":
            if not a.write_pins:
                pins = load_pins(cpus)
            data = query_data(root, jars, classes, size["sf"], cpus, deadline)
            args += ["data=" + os.path.join(data, "tables"), "only=" + size["only"],
                     "every=%d" % (1 if a.write_pins else size["every"])]
        else:
            manifest, inputs = ledger_inputs(work, a.seed, size, a.corrupt)
            args += ["manifest=" + manifest, "appends=%d" % size["appends"],
                     "cycle=%d" % size["cycle"]]
        log = os.path.join(work, "harness.log")
        rc = java(jars, classes, "perfbench.Harness", args, work, log, deadline - time.time(), cpus)
        if rc != 0:
            with open(log, errors="replace") as f:
                tail_log = f.read()[-3000:]
            fail("harness %s:\n%s" % ("timed out" if rc is None else "exit %d" % rc, tail_log))
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(os.path.join(root, RUNS)) and not os.listdir(os.path.join(root, RUNS)):
            os.rmdir(os.path.join(root, RUNS))

    failures = list(res["failures"])
    if a.workload == "query_surface":
        if a.write_pins:
            write_pins(res, cpus)
            pins = load_pins(cpus)
        if pins["settings"] != pinned_settings(res["settings"]):
            fail("pins taken with session settings %s, this run used %s; re-pin with --write-pins"
                 % (pins["settings"], pinned_settings(res["settings"])))
        failures += check_queries(res, pins["queries"], a.corrupt)
    attempted = len(res["op_ms"])
    failed = min(attempted, len(failures))

    e2e, sample = end_to_end(res)
    values = per_layer(res) if a.trace else e2e
    metrics = {n: {"value": values[n], "unit": u}
               for n, u in (PER_LAYER if a.trace else END_TO_END)}
    for n in metrics:
        assert stats.valid_name(n), n

    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "size": a.size, "commit": git_commit(root), "source_digest": os.path.basename(classes)[8:],
        "nproc": cpus, "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "java": res.get("java_version"), "spark": res.get("spark_version"),
        "scala": res.get("scala_version"), "settings": res.get("settings"),
        "inputs": inputs,
        "sample": sample, "end_to_end": e2e,
        "workload_metrics": workload_metrics(a.workload, res, failed, attempted),
        # every set-up: the first is cold (reported), the rest re-create the
        # session in a warm JVM
        "setup_s": setups(res),
        "failures": failures[:20], "elapsed_s": time.time() - start,
    }
    if a.workload == "query_surface":
        detail["state_s"] = dict(zip(res["state_names"], res["state_s"]))
        detail["query_s"] = dict(zip(res["query_names"], res["query_s"]))
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
