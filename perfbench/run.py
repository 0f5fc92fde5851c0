#!/usr/bin/env python3
"""Benchmark of the cargochatspark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <chat_query|corpus_batch> \\
        --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the harness (sbt, into
``.bench_build/``). Each run generates its inputs from ``--seed`` under
``.bench_work/``, runs the workload in one JVM on ``local[nproc]``,
checks the outputs, writes one result file under
``.bench_work/results/`` (also when the run fails) and prints one line
per metric, a compact summary and, last, the result object.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same workload with spans around every call into the engine's modules
and Spark counters at the same boundaries, and reports the per-layer
metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# Input sizes per workload, and how many set-up repetitions a run makes
# (corpus_batch's set-up is its one warm-up pass).
WORKLOADS = {
    "chat_query": {"files": 150, "clients": 1, "questions": 4000, "recall": 16,
                   "check": 4, "warm_queries": 50, "setup_reps": 3},
    "corpus_batch": {"docs": 2000, "events": 40000},
}

# chat_query's timed phase is split into this many windows of equal
# length; op_p50_ms and items_per_s come from the quietest of them
WINDOWS = 6

END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("items_per_s", "1/s"),
              ("peak_heap_mb", "MB")]

SPARK_COUNTERS = [("jobs", "count/op"), ("stages", "count/op"), ("tasks", "count/op"),
                  ("task_s", "s/op"), ("shuffle_read_bytes", "B/op"),
                  ("shuffle_write_bytes", "B/op"), ("spill_bytes", "B/op")]

INDEX_SPANS = ["chunker.chunkRepo", "embed.embedChunks", "annindex.save", "annindex.load",
               "annindex.forest", "annindex.leafSkew", "profile", "manifest",
               "chatpipeline.index", "chatpipeline.refreshIndex"]
QUERY_SPANS = ["freshness.checkIndexCached", "chatpipeline.readProfile", "llm.classify",
               "llm.hyde", "embedder.embed", "preparedknn.search",
               "retrieval.applyFiltersLocal", "retrieval.crossRerankLocal", "llm.synthesize"]
PAIRS = ["q15_jaccard_pairs", "q72_source_overlap", "q128_winnow_pairs", "q170_graph_triangles"]
TEXT = ["q85_bm25_search", "q172_rm3_expansion", "q69_tfidf_keywords", "q129_distinct_ngrams"]

PER_LAYER = (
    [(f"{n}.s", "s") for n in INDEX_SPANS]
    + [("build.unattributed.s", "s"), ("chunker.chunks", "count"),
       ("annindex.forest_rows", "count"), ("annindex.bytes_written", "B"),
       ("annindex.max_leaf", "count"), ("annindex.p99_leaf", "count"),
       ("refresh.purged_chunks", "count"), ("refresh.reindexed_chunks", "count"),
       ("index.bytes_per_source_byte", "ratio"), ("build.trace_overhead_pct", "%")]
    + [(f"{n}.ms", "ms") for n in QUERY_SPANS]
    + [("preparedknn.prep.ms", "ms"), ("preparedknn.cand_job.ms", "ms"),
       ("preparedknn.merge_swap.ms", "ms"), ("preparedknn.payload_job.ms", "ms"),
       ("preparedknn.served_ratio", "ratio"), ("preparedknn.rows_examined_per_result", "ratio"),
       ("query.unattributed.ms", "ms"), ("knn_recall_at_6", "ratio")]
    + [("curation.run.s", "s"), ("textanalytics.filterFunnel.s", "s"),
       ("dedup.dedupSurvivors.s", "s"), ("curation.written_rows", "count")]
    + [(f"pairs.{q}.s", "s") for q in PAIRS] + [(f"text.{q}.s", "s") for q in TEXT]
    + [(f"spark.{n}", u) for n, u in SPARK_COUNTERS]
    + [("jvm.gc_ms", "ms"), ("trace.overhead_pct", "%")]
)

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]

HARNESS_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


class BenchError(Exception):
    """A failure that ends the run without a result line."""


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp(root):
    """Hash of the sources the build compiles."""
    h = hashlib.sha256()
    for top in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "harness")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile the engine and the harness into jars once per source
    state; return the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise BenchError("the engine's sources (src/main/scala/graft) are missing: "
                         "run from the root of a full checkout")
    out = os.path.join(root, ".bench_build")
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(out, exist_ok=True)
    log("building the engine and the harness (sbt)")
    t0 = time.time()
    proc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "package", "export Runtime/fullClasspathAsJars"],
                       cwd=os.path.join(HERE, "harness"), timeout=BUILD_TIMEOUT_S, capture=True)
    if proc[0] != 0:
        sys.stderr.write(proc[1][-4000:])
        raise BenchError(f"build failed with exit code {proc[0]}")
    lines = [ln.strip() for ln in proc[1].splitlines() if ln.strip() and not ln.startswith("[")]
    cp = next((ln for ln in reversed(lines) if ".jar" in ln), None)
    if cp is None:
        raise BenchError("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def jvm_env(work):
    env = {k: v for k, v in os.environ.items() if not k.startswith(("GRAFT_", "SPARK_GRAFT_"))}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    return env


def jvm_command(cp, work, args):
    """The harness JVM, with the default JIT and a heap of half the
    machine's memory (2-4 GiB)."""
    heap = heap_size()
    for d in ("tmp", "jvm"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    return (["java", f"-Xms{heap}g", f"-Xmx{heap}g"]
            + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               f"-Dlog4j2.configurationFile={os.path.join(HERE, 'harness', 'conf', 'log4j2.properties')}",
               "-cp", cp, "perfbench.Main", "--work", os.path.join(work, "jvm"),
               "--cpus", str(nproc())] + args)


def run_bounded(cmd, cwd, timeout, capture=False, env=None):
    """Run ``cmd`` in its own process group; kill the whole group on
    timeout and wait for it. Returns (exit code, output)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True, text=True,
                            stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=subprocess.STDOUT if capture else sys.stderr)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise BenchError(f"{cmd[0]} exceeded {timeout} s and was killed")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out or ""


# --------------------------------------------------------------- inputs

def write_tree(base, files):
    for rel, text in files.items():
        p = os.path.join(base, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w", encoding="utf-8", newline="") as f:
            f.write(text)


def write_lines(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write("".join(x + "\n" for x in lines))


def write_corpus(base, seed, docs, events):
    """The corpus as the engine's ``documents.parquet`` and
    ``events.parquet`` tables, in the column types of the engine's test
    data."""
    import pyarrow as pa  # corpus_batch only
    import pyarrow.parquet as pq
    os.makedirs(base, exist_ok=True)
    d = list(zip(*gen.documents(seed, docs)))
    pq.write_table(pa.table({
        "doc_id": pa.array(d[0], pa.int64()), "text": pa.array(d[1], pa.string()),
        "lang": pa.array(d[2], pa.string()), "source": pa.array(d[3], pa.string()),
        "n_chars": pa.array(d[4], pa.int64())}), os.path.join(base, "documents.parquet"))
    e = list(zip(*gen.events(seed, events)))
    pq.write_table(pa.table({
        "event_id": pa.array(e[0], pa.int64()),
        "ts": pa.array(e[1], pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(e[2], pa.int64()), "event_type": pa.array(e[3], pa.string()),
        "value": pa.array(e[4], pa.float64()), "props": pa.array(e[5], pa.string())}),
        os.path.join(base, "events.parquet"))


def make_inputs(workload, seed, size, base):
    """Generate the workload's inputs from the seed into ``base``."""
    if workload == "chat_query":
        repo = gen.make_repo(seed, size["files"])
        write_tree(os.path.join(base, "repo"), repo)
        modified, added, deleted = gen.edit_wave(seed, repo)
        write_tree(os.path.join(base, "wave", "write"), {**modified, **added})
        write_lines(os.path.join(base, "wave", "delete.txt"), deleted)
        qs = gen.questions(seed, repo, size["questions"])
        write_lines(os.path.join(base, "questions.txt"), qs)
        write_lines(os.path.join(base, "recall_questions.txt"), qs[: size["recall"]])
        write_lines(os.path.join(base, "check_questions.txt"),
                    gen.questions(seed + 7, repo, size["check"]))
    elif workload == "corpus_batch":
        write_corpus(os.path.join(base, "main"), seed, size["docs"], size["events"])
        write_corpus(os.path.join(base, "warm"), seed + 1_000_003, size["docs"], size["events"])


# -------------------------------------------------------------- metrics

def metric(value, unit, n):
    return {"value": value, "unit": unit, "n": n}


def end_to_end(workload, h, size):
    """End-to-end and workload-specific metrics from an untraced or
    traced harness result."""
    s, v = h["series"], h["values"]
    med = stats.median
    m = {"peak_heap_mb": metric(v["peak_heap_mb"], "MB", int(v["gc_collections"]))}
    if workload == "chat_query":
        # the index is built once; serving is prepared setup_reps times
        m["setup_s"] = metric(s["index_build_s"][0] + med(s["serve_prep_s"]), "s",
                              len(s["serve_prep_s"]))
        lat = s["latency_ms"]
        n = len(lat)
        qps = (n + len(s.get("untraced_latency_ms", []))) / v["loop_s"]
        m["query_p50_run_ms"] = metric(med(lat), "ms", n)
        m["query_qps_run"] = metric(qps, "1/s", n)
        # untraced runs: the quietest window of the timed phase (see
        # stats.quietest_window); traced runs, which time only every
        # other query, report the whole phase
        win = None if "untraced_latency_ms" in s else stats.quietest_window(
            lat, s["latency_end_s"], v["loop_s"], WINDOWS)
        p50, wn, wqps = (win[0], win[1], win[1] / win[2]) if win else (med(lat), n, qps)
        m["op_p50_ms"] = metric(p50, "ms", wn)
        m["items_per_s"] = metric(wqps, "1/s", wn)
        # the highest of these percentiles with ten samples beyond it
        for p in (99, 95, 90):
            tail = stats.percentile(lat, p)
            if tail is not None:
                m[f"query_p{p}_ms"] = metric(tail, "ms", n)
                break
        if "knn_recall_at_6" in v:  # traced runs
            m["knn_recall_at_6"] = metric(v["knn_recall_at_6"], "ratio", size["recall"])
        m["index_build_s"] = metric(s["index_build_s"][0], "s", 1)
        m["index_chunks_per_s"] = metric(v["chunks"] / s["index_build_s"][0], "1/s", 1)
        m["index_bytes_per_source_byte"] = metric(v["index_bytes"] / v["source_bytes"], "ratio", 1)
    elif workload == "corpus_batch":
        m["setup_s"] = metric(med(s["setup_s"]), "s", len(s["setup_s"]))
        n = len(s["pass_s"])
        m["op_p50_ms"] = metric(med(s["pass_s"]) * 1000, "ms", n)
        m["items_per_s"] = metric(v["docs"] / med(s["pass_s"]), "1/s", n)
        for job in ("curation", "pairs", "text"):
            m[f"{job}_s"] = metric(med(s[f"{job}_s"]), "s", len(s[f"{job}_s"]))
    return m


def per_layer(workload, h, table):
    """Per-layer metrics of a traced run. Layers the workload does not
    call read 0."""
    s, v = h["series"], h["values"]
    med = stats.median
    m = {name: metric(0.0, unit, 0) for name, unit in PER_LAYER}

    def span_avg(name, scale, use_self=True):
        row = table.get(name)
        if row:
            m[f"{name}.{'s' if scale == 1e9 else 'ms'}"] = metric(
                (row["self_ns"] if use_self else row["total_ns"]) / row["count"] / scale,
                "s" if scale == 1e9 else "ms", row["count"])

    def put(name, value, n=1):
        m[name] = metric(value, m[name]["unit"], n)

    op_reqs = {"chat_query": "q", "corpus_batch": "pass"}[workload]
    reqs = {k: c for k, c in h["spark_by_req"].items()
            if k.startswith(op_reqs) and k[len(op_reqs):].isdigit()}
    if reqs:
        for name, _ in SPARK_COUNTERS:
            put(f"spark.{name}", sum(c[name] for c in reqs.values()) / len(reqs), len(reqs))
    put("jvm.gc_ms", v["jvm.gc_ms"])

    if workload == "chat_query":
        for n in QUERY_SPANS:
            span_avg(n, 1e6)
        row = table.get("query")
        if row:
            put("query.unattributed.ms", row["self_ns"] / row["count"] / 1e6, row["count"])
        n = len(s["latency_ms"]) + len(s["untraced_latency_ms"])
        for k in ("prep", "cand_job", "merge_swap", "payload_job"):
            put(f"preparedknn.{k}.ms", v[f"preparedknn.{k}.ms"], n)
        put("preparedknn.served_ratio", v["preparedknn.served_ratio"], n)
        hits = sum(s.get("window_hits", []))
        if hits:
            put("preparedknn.rows_examined_per_result",
                sum(c["input_records"] for c in reqs.values()) / hits, len(reqs))
        put("knn_recall_at_6", v["knn_recall_at_6"])
        put("trace.overhead_pct",
            (med(s["latency_ms"]) / med(s["untraced_latency_ms"]) - 1) * 100, len(s["latency_ms"]))
        # the index layers, from the traced build and refresh
        for n in INDEX_SPANS:
            span_avg(n, 1e9)
        row = table.get("build")
        if row:
            put("build.unattributed.s", row["self_ns"] / row["count"] / 1e9, row["count"])
        for k, src in [("chunker.chunks", "chunks"), ("annindex.forest_rows", "forest_rows"),
                       ("annindex.bytes_written", "index_bytes"), ("annindex.max_leaf", "max_leaf"),
                       ("annindex.p99_leaf", "p99_leaf"),
                       ("refresh.purged_chunks", "refresh.purged_chunks"),
                       ("refresh.reindexed_chunks", "refresh.reindexed_chunks")]:
            put(k, v[src])
        put("index.bytes_per_source_byte", v["index_bytes"] / v["source_bytes"])
        put("build.trace_overhead_pct",
            (s["traced_build_s"][0] / s["untraced_build_s"][0] - 1) * 100)
    elif workload == "corpus_batch":
        for n in ["curation.run", "textanalytics.filterFunnel", "dedup.dedupSurvivors"] + \
                [f"pairs.{q}" for q in PAIRS] + [f"text.{q}" for q in TEXT]:
            span_avg(n, 1e9, use_self=False)
        put("curation.written_rows", v["curation.written_rows"])
        put("trace.overhead_pct", (med(s["pass_s"]) / s["untraced_pass_s"][0] - 1) * 100,
            len(s["pass_s"]))
    return m


# ------------------------------------------------------------------ run

def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_size():
    """Half the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
        return max(2, min(4, kb // 2 // 1048576))
    except (OSError, StopIteration, ValueError):
        return 2


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def recorded_digests(workload, seed, size):
    path = os.path.join(HERE, "expected", f"{workload}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        rec = json.load(f)
    if rec.get("size") != size:
        return None
    return rec["digests"].get(str(seed))


def run(args, root, result):
    size = WORKLOADS[args.workload]
    result["size"] = size
    cp = build(root)
    t_built = time.time()
    work = os.path.join(root, ".bench_work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "input")
    t0 = time.time()
    make_inputs(args.workload, args.seed, size, inputs)
    result["input_gen_s"] = time.time() - t0
    out_file = os.path.join(work, "harness.json")
    cmd = jvm_command(cp, work,
                      ["--workload", args.workload, "--input", inputs,
                       "--seconds", str(args.seconds), "--trace", str(args.trace),
                       "--out", out_file, "--setup-reps", str(size.get("setup_reps", 1)),
                       "--clients", str(size.get("clients", 1)),
                       "--warm-queries", str(size.get("warm_queries", 0))])
    result.update({"nproc": nproc(), "heap_gb": heap_size(), "master": f"local[{nproc()}]"})
    code, _ = run_bounded(cmd, cwd=root, timeout=HARNESS_TIMEOUT_S - (time.time() - t_built),
                          env=jvm_env(work))
    result["harness_s"] = time.time() - t0
    if not os.path.exists(out_file):
        raise BenchError(f"the harness exited with code {code} and wrote no result")
    with open(out_file) as f:
        h = json.load(f)
    result["failures"] = h["failures"]
    result["series"] = h["series"]
    result["values"] = h["values"]
    result["spark_conf"] = h["spark_conf"]
    result["session_s"] = h["values"].get("session_s")
    if code != 0:
        kind = "set-up" if code == 3 else "harness"
        raise BenchError(f"{kind} failed (exit code {code}): "
                         + "; ".join(f"{f['name']}: {f['class']}: {f['message']}"
                                     for f in h["failures"]))

    attempted = max(1, h["attempted"])
    failed = sum(1 for f in h["failures"] if not f["name"].startswith(("setup", "harness")))
    obs = h["observed"]
    if args.workload == "chat_query":
        results = checks.chat_query(obs)
    else:
        results = checks.corpus_batch(obs, recorded_digests(args.workload, args.seed, size))
    result["checks"] = results
    result["observed"] = obs

    metrics = end_to_end(args.workload, h, size)
    metrics["failed_ratio"] = metric(failed / attempted, "ratio", attempted)
    if args.trace:
        spans = [tuple(x) for x in h["spans"]]
        table = stats.layer_table(spans, skip_reqs=("check",))
        result["layer_table"] = {k: {"count": r["count"], "total_s": r["total_ns"] / 1e9,
                                     "self_s": r["self_ns"] / 1e9, "roots": r["roots"]}
                                 for k, r in sorted(table.items())}
        result["spark_by_span"] = h["spark_by_span"]
        spans_file = os.path.join(root, ".bench_work", "results",
                                  f"{args.workload}-s{args.seed}-spans.jsonl")
        os.makedirs(os.path.dirname(spans_file), exist_ok=True)
        with open(spans_file, "w") as f:
            for sid, parent, name, req, start, end in spans:
                f.write(json.dumps({"id": sid, "parent": parent, "name": name, "req": req,
                                    "start_ns": start, "end_ns": end}) + "\n")
        result["spans_file"] = os.path.relpath(spans_file, root)
        metrics.update(per_layer(args.workload, h, table))
    result["metrics"] = metrics
    correct = all(c["ok"] for c in results) and failed == 0
    result["correct"] = correct
    wanted = [n for n, _ in (PER_LAYER if args.trace else END_TO_END)]
    line = {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": metrics[n]["value"], "unit": metrics[n]["unit"]}
                        for n in wanted}}
    shutil.rmtree(work, ignore_errors=True)
    return line


def main():
    # a terminated run still stops the JVM it started (see run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    result = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "commit": git_commit(root), "failures": [],
              "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    res_dir = os.path.join(root, ".bench_work", "results")
    res_file = os.path.join(res_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    line, error = None, None
    try:
        result["source_stamp"] = source_stamp(root) if os.path.isdir(
            os.path.join(root, "src", "main", "scala")) else None
        line = run(args, root, result)
    except BenchError as e:
        error = str(e)
    except Exception as e:  # recorded, then the run fails
        error = f"{type(e).__name__}: {e}"
    if error:
        result["error"] = error
        log(error)
    os.makedirs(res_dir, exist_ok=True)
    with open(res_file, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    if line is None:
        sys.exit(1)
    for name, mv in sorted(result["metrics"].items()):
        if mv["n"]:  # layers this workload does not call are left out here
            print(json.dumps({"metric": name, "value": mv["value"], "unit": mv["unit"], "n": mv["n"]}))
    bad = [c["name"] for c in result["checks"] if not c["ok"]]
    print(json.dumps({"summary": args.workload, "seed": args.seed, "trace": args.trace,
                      "correct": line["correct"], "attempted": line["attempted"],
                      "failed": line["failed"], "failed_checks": bad,
                      "result_file": os.path.relpath(res_file, root)}))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
