#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the checkout root. The first run builds the program and the
benchmark (perfbench/build.py). Each run makes its inputs from the
seed, measures, checks every output, and prints as its last stdout
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 the per-layer metrics. The exit code is
non-zero when any output check fails. Everything a run writes stays in
`.bench_runs/<run id>/` under the checkout root; the bulky inputs and
outputs are deleted once checked, the logs, traces and the run record
(`record.json`) are kept. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["xena_pipeline", "query_suite", "store_cycle"]
END_TO_END = ["setup_s", "phase1_s", "phase2_s", "op_p50_s", "op_p90_s", "peak_rss_mb"]
UNITS = {"setup_s": "s", "phase1_s": "s", "phase2_s": "s", "op_p50_s": "s", "op_p90_s": "s",
         "peak_rss_mb": "MB"}

# The query_suite subset: one registry query per family that
# store_cycle does not already cover (relational, xena, dedup,
# similarity, text, retrieval). Every multimodal query reads the
# in-repo fixtures, so that family is absent.
QUERY_SUBSET = ["q02_join_dims", "q71_wide_pivot", "q47_dup_clusters", "q25_lsh_ann_topk",
                "q21_text_stats", "q88_bm25_topk"]
# The store_cycle probes, in the order they are built and probed:
# every StoreProbes.all entry whose store has a monitor stream to fold
# into.
PROBES = ["posting", "tfidf", "lm", "tok", "langid", "psi", "hll", "cms"]
SHARED_BUILD = {"posting": "tfidf", "posting_capped": "tfidf", "tfidf_capped": "tfidf", "lm_oov": "lm"}
STORE_GROUPS = sorted({SHARED_BUILD.get(p, p) for p in PROBES})
# Tables of query_suite and store_cycle come from one fixed seed, so
# results can be checked against the committed reference checksums;
# the run seed orders the queries and makes the landing batches.
TABLE_SEED = 20261017
# Each generator runs this many times per run, one after another, and
# setup_s takes the fastest: one generation is sub-second,
# single-threaded Python whose speed follows the host's from second to
# second, and a slow spell only ever adds time. Copies run side by side
# would also wait for the host to schedule idle CPUs.
SETUP_REPEATS = 4
# A pinned heap and young generation: with G1 sizing them adaptively,
# peak RSS spreads by 10-20% from run to run; pinned, it repeats
# within 1% and moves with old-generation and native memory. No
# hsperfdata file: a JVM writes nothing outside the run directory.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData"]
PROC_TIMEOUT_S = 150
# Modules whose code can run a Spark job in these workloads.
MODULES = ["graft", "graft.io", "graft.transform", "graft.ops", "graft.dedup", "graft.similarity",
           "graft.functions", "graft.streaming", "graft.model", "harness", "spark"]
EXEC_SUMS = ["exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms", "exec.task_cpu_ms",
             "exec.gc_ms", "exec.single_task_stage_ms", "exec.input_bytes", "exec.input_records",
             "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
             "exec.output_bytes"]
CATALYST = ["catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms"]


def per_layer_names():
    names = ["session.launch_to_context_ms"] + CATALYST + ["codegen.classes", "codegen.compile_ms"]
    names += EXEC_SUMS + ["exec.peak_exec_mem_bytes", "exec.core_utilization", "exec.driver_gap_ms"]
    names += ["module.%s.job_ms" % m for m in MODULES]
    names += ["transform.call_ms", "transform.raw_bytes", "io.tsv_read_ms", "io.tsv_write_ms",
              "io.tsv_bytes_written", "io.metadata_ms", "xenaops.merge_call_ms", "xenaops.merged_columns"]
    names += ["store.create_ms.%s" % g for g in STORE_GROUPS]
    names += ["store.probe_ms.%s" % p for p in PROBES]
    names += ["store.bytes.%s" % g for g in STORE_GROUPS] + ["store.files.%s" % g for g in STORE_GROUPS]
    names += ["store.bytes_per_input_byte", "stream.batches", "stream.rows_in", "stream.add_batch_ms",
              "stream.trigger_ms"]
    names += ["query.family_s.%s" % f for f in FAMILIES]
    names += ["trace.e2e_s", "trace.overhead_s"]
    return names


def family(q):
    """Query family, grouped from the registry name."""
    n = q.split("_", 1)[1] if "_" in q else q
    rules = [
        ("multimodal", ["image", "audio", "video", "binary"]),
        ("store", ["_store", "score_psi", "vocab_growth", "hitter_surge", "calibration_frozen"]),
        ("retrieval", ["bm25", "tfidf", "retrieval", "mmr", "negatives"]),
        ("xena", ["xena", "tsv", "star", "segment", "methylation", "protein", "maf", "survival",
                  "clinical", "remap", "file_exts", "tumor_normal", "mirna", "gene_cnv", "pivot",
                  "union_superset", "full_outer"]),
        ("dedup", ["dedup", "dup", "minhash", "simhash", "fingerprint", "decontam", "banding",
                   "link", "fuzzy", "jaccard"]),
        ("similarity", ["cosine", "ann", "knn", "ivf", "pq_", "embedding", "cluster"]),
        ("text", ["text", "ngram", "vocab", "token", "bpe", "lang", "lm", "pmi", "quality", "curation",
                  "pii", "redact", "chunk", "pack", "logprob", "hitters", "repetition", "novelty",
                  "corpus", "naive_bayes", "classifier", "calibration", "split", "sample", "mixture",
                  "budget", "shard", "importance", "norm", "drift", "psi", "eval"]),
    ]
    for fam, keys in rules:
        if any(k in n for k in keys):
            return fam
    return "relational"


FAMILIES = sorted({family(q) for q in QUERY_SUBSET})


# ---------------------------------------------------------------------
# process control and environment
# ---------------------------------------------------------------------

def cpu_count():
    return len(os.sched_getaffinity(0))


def host_load():
    """Load average and the CPU share other processes used over 0.25 s."""
    def jiffies():
        own = {os.getpid()}
        total = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or int(pid) in own:
                continue
            try:
                with open("/proc/%s/stat" % pid) as f:
                    parts = f.read().rsplit(")", 1)[1].split()
                total += int(parts[11]) + int(parts[12])
            except (OSError, IndexError, ValueError):
                pass
        return total
    a, t0 = jiffies(), time.time()
    time.sleep(0.25)
    b, t1 = jiffies(), time.time()
    return {"loadavg": list(os.getloadavg()),
            "other_cpu_cores": round((b - a) / os.sysconf("SC_CLK_TCK") / (t1 - t0), 3)}


class Jvm:
    """Launches the program's and the benchmark's JVMs for one run."""

    def __init__(self, run_dir, trace, run_id):
        self.prog, self.bench = build.build()
        self.jars = build.spark_jars()
        self.opens = build.add_opens()
        self.run_dir, self.trace, self.run_id = run_dir, trace, run_id
        self.tmp = os.path.join(run_dir, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.n = 0

    def run(self, main, args, tag, extra=(), timeout=PROC_TIMEOUT_S):
        """Run one JVM to exit; return (wall s, rc, peak RSS MB, launch ms, trace file)."""
        self.n += 1
        name = "%02d-%s" % (self.n, tag)
        trace_file = os.path.join(self.run_dir, "trace-%s.json" % name)
        launch_ms = time.time() * 1000.0
        flags = JVM_FLAGS + self.opens + [
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + self.tmp] + list(extra)
        if self.trace:
            flags += ["-Dspark.extraListeners=perfbench.ExecListener",
                      "-Dspark.sql.queryExecutionListeners=perfbench.QeListener",
                      "-Dspark.sql.streaming.streamingQueryListeners=perfbench.StreamListener",
                      "-Dperfbench.trace=" + trace_file, "-Dperfbench.run_id=" + self.run_id,
                      "-Dperfbench.launch_ms=%.3f" % launch_ms]
        cp = ":".join([self.prog, self.bench, os.path.join(self.jars, "*")])
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpu_count()), SPARK_LOCAL_DIRS=self.tmp)
        with open(os.path.join(self.run_dir, "stderr-%s.log" % name), "wb") as err, \
                open(os.path.join(self.run_dir, "stdout-%s.log" % name), "wb") as out:
            t0 = time.perf_counter()
            p = subprocess.Popen(["java"] + flags + ["-cp", cp, main] + list(args),
                                 cwd=self.run_dir, stdout=out, stderr=err, env=env)
            timer = threading.Timer(timeout, p.kill)
            timer.start()
            try:
                _, status, ru = os.wait4(p.pid, 0)
            except BaseException:
                p.kill()
                os.wait4(p.pid, 0)
                raise
            finally:
                timer.cancel()
            wall = time.perf_counter() - t0
        p.returncode = os.waitstatus_to_exitcode(status)
        return wall, p.returncode, ru.ru_maxrss / 1024.0, launch_ms, \
            (trace_file if os.path.exists(trace_file) else None)


GENERATORS = {"gdc_tree": gen.gdc_tree, "tables": gen.tables, "landing": gen.landing}


def timed_setup(kind, base, seed):
    """Generate the same inputs SETUP_REPEATS times, one after another,
    into `<base>0`, `<base>1`, ..., and keep `<base>0`. Return (seconds
    of the fastest generation, whether every copy is byte-identical, the
    first generator's return value)."""
    times, digests, first = [], set(), None
    for i in range(SETUP_REPEATS):
        out = "%s%d" % (base, i)
        t0 = time.perf_counter()
        result = GENERATORS[kind](out, seed)
        times.append(time.perf_counter() - t0)
        digests.add(gen.tree_digest(out))
        if i == 0:
            first = result
        else:
            shutil.rmtree(out)
    return min(times), len(digests) == 1, first


def quantile(values, q):
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    k = (len(v) - 1) * q
    i = int(k)
    return v[i] + (v[min(i + 1, len(v) - 1)] - v[i]) * (k - i)


def dir_size(path):
    n, files = 0, 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            n += os.path.getsize(os.path.join(dp, fn))
            files += 1
    return n, files


# ---------------------------------------------------------------------
# trace aggregation
# ---------------------------------------------------------------------

def load_trace(path):
    if not path:
        return {"counters": {}, "spans": []}
    with open(path) as f:
        return json.load(f)


def covered_ms(spans, lo, hi):
    """Milliseconds of [lo, hi] covered by at least one job span."""
    iv = sorted((max(lo, s["start_ms"]), min(hi, s["end_ms"])) for s in spans
                if s["name"].startswith("job:") and s["end_ms"] > lo and s["start_ms"] < hi)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(counters, windows, spans):
    """Per-layer metrics from summed listener counters and the timed
    windows [(start_ms, end_ms)] the counters cover."""
    m = {k: 0.0 for k in per_layer_names()}
    for k, v in counters.items():
        if k in m:
            m[k] = v
    wall = sum(e - s for s, e in windows)
    gap = sum((e - s) - covered_ms(spans, s, e) for s, e in windows)
    m["exec.driver_gap_ms"] = gap
    m["exec.core_utilization"] = counters.get("exec.task_run_ms", 0.0) / (wall * cpu_count()) if wall else 0.0
    return m


def add_counters(acc, c):
    for k, v in c.items():
        if k == "exec.peak_exec_mem_bytes":
            acc[k] = max(acc.get(k, 0.0), v)
        else:
            acc[k] = acc.get(k, 0.0) + v


# ---------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------

class Run:
    def __init__(self, args):
        self.args = args
        now = time.time()
        self.id = "%s-s%d-t%d-%s.%03d" % (args.workload, args.seed, args.trace,
                                          time.strftime("%Y%m%dT%H%M%S", time.localtime(now)), now % 1 * 1000)
        self.dir = os.path.join(ROOT, ".bench_runs", self.id)
        os.makedirs(self.dir)
        self.attempted = 0
        self.failed = 0
        self.problems = []
        self.record = {"run_id": self.id, "workload": args.workload, "seed": args.seed,
                       "seconds": args.seconds, "trace": args.trace, "cpus": cpu_count(),
                       "code": code_digest()}

    def check(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def op(self, rc, what):
        self.attempted += 1
        if rc != 0:
            self.failed += 1
            self.problems.append("%s exited %s" % (what, rc))
        return rc == 0


def run_xena(r, jvm):
    a = r.args
    setup_s, same, exp = timed_setup("gdc_tree", os.path.join(r.dir, "inputs", "raw"), a.seed)
    r.check(same, "raw tree generation is not deterministic")
    raw = os.path.join(r.dir, "inputs", "raw0")
    projects = exp["projects"]
    out = os.path.join(r.dir, "out")
    cohort = "GDC BENCH-PANCAN"

    passes = []
    traces = []
    t_end = time.perf_counter() + a.seconds
    while not passes or time.perf_counter() < t_end:
        procs = []
        t0 = time.perf_counter()
        w, rc, rss, l0, tf = jvm.run("graft.Cli", ["etl-batch", "-r", raw, "-o", out, "--parallel", "1",
                                                   "-p"] + projects + ["-t"] + gen.GDC_DTYPES, "etl-batch")
        procs.append(("etl-batch", w, rc, rss, l0, tf))
        for d in gen.MERGED_DTYPES:
            files = [os.path.join(out, p, d + ".tsv") for p in projects]
            w, rc, rss, l0, tf = jvm.run("graft.Cli", ["merge-xena", "-t", d, "-f"] + files +
                                         ["-o", os.path.join(out, "merged", d + ".tsv")], "merge-" + d)
            procs.append(("merge:" + d, w, rc, rss, l0, tf))
        for d in gen.MERGED_DTYPES:
            w, rc, rss, l0, tf = jvm.run("graft.Cli", ["metadata", "-t", d, "-p",
                                                       os.path.join(out, "merged", d + ".tsv"), "-c", cohort],
                                         "metadata-" + d)
            procs.append(("metadata:" + d, w, rc, rss, l0, tf))
        pipeline = time.perf_counter() - t0
        ok = [r.op(p[2], p[0]) for p in procs]
        passes.append({"pipeline_s": pipeline if all(ok) else None,
                       "procs": [{"op": p[0], "wall_s": p[1], "rc": p[2], "rss_mb": p[3]} for p in procs]})
        traces.append(procs)

    # Output checks, outside the timed window.
    if a.plant == "cell":
        checks.plant_wrong_cell(os.path.join(out, projects[0], "star_counts.tsv"))
    for p in projects:
        for d in gen.GDC_DTYPES:
            got = checks.compare_output(os.path.join(out, p, d + ".tsv"), exp["etl"][(p, d)])
            r.check(got is None, "etl %s/%s: %s" % (p, d, got))
    for d in gen.MERGED_DTYPES:
        path = os.path.join(out, "merged", d + ".tsv")
        got = checks.compare_output(path, exp["merged"][d])
        r.check(got is None, "merge %s: %s" % (d, got))
        got = checks.compare_metadata(path + ".json", gen.expected_metadata(d, cohort))
        r.check(got is None, "metadata %s: %s" % (d, got))

    ok_procs = [x for ps in passes for x in ps["procs"] if x["rc"] == 0]
    etl = [x["wall_s"] for ps in passes for x in ps["procs"] if x["op"] == "etl-batch" and x["rc"] == 0]
    merge = [sum(x["wall_s"] for x in ps["procs"] if x["op"].startswith("merge:")) for ps in passes
             if all(x["rc"] == 0 for x in ps["procs"] if x["op"].startswith("merge:"))]
    walls = [x["wall_s"] for x in ok_procs]
    metrics = {"setup_s": setup_s,
               "phase1_s": statistics.median(etl) if etl else None,
               "phase2_s": statistics.median(merge) if merge else None,
               "op_p50_s": quantile(walls, 0.5) if walls else None,
               "op_p90_s": quantile(walls, 0.9) if walls else None,
               "peak_rss_mb": max(x["rss_mb"] for x in ok_procs) if ok_procs else None}
    pipes = [ps["pipeline_s"] for ps in passes if ps["pipeline_s"] is not None]
    r.record.update({"passes": passes, "figures": {
        "pipeline_s": statistics.median(pipes) if pipes else None, "etl_s": metrics["phase1_s"],
        "merge_s": metrics["phase2_s"]}, "op_samples": len(walls)})

    layers = None
    if a.trace:
        acc, spans, windows = {}, [], []
        for p in traces[-1]:
            t = load_trace(p[5])
            add_counters(acc, t["counters"])
            if p[0].startswith("metadata"):
                continue  # no Spark context in this verb
            acc["codegen.classes"] = acc.get("codegen.classes", 0) + t["counters"].get("codegen.jvm_classes", 0)
            acc["codegen.compile_ms"] = acc.get("codegen.compile_ms", 0) + t["counters"].get("codegen.jvm_compile_ms", 0)
            spans += t["spans"]
            windows.append((p[4], p[4] + p[1] * 1000.0))
        replay_out = os.path.join(r.dir, "replay")
        w, rc, rss, l0, tf = jvm.run("perfbench.XenaLayers", [
            raw, replay_out, ",".join(projects), ",".join(gen.GDC_DTYPES), ",".join(gen.MERGED_DTYPES),
            os.path.join(r.dir, "replay.json")], "replay")
        r.op(rc, "layer replay")
        rt = load_trace(tf)["counters"]
        for k in ["transform.call_ms", "io.tsv_read_ms", "io.tsv_write_ms", "io.metadata_ms",
                  "xenaops.merge_call_ms", "xenaops.merged_columns"]:
            acc[k] = rt.get(k, 0.0)
        acc["transform.raw_bytes"] = dir_size(raw)[0]
        acc["io.tsv_bytes_written"] = sum(dir_size(os.path.join(out, p))[0] for p in projects) + \
            dir_size(os.path.join(out, "merged"))[0]
        layers = layer_metrics(acc, windows, spans)
        r.record["trace_spans"] = len(spans)
    return metrics, layers, (pipes[-1] if pipes else None)


def seeded(names, seed):
    order = list(names)
    random.Random(seed).shuffle(order)
    return order


def make_tables(r):
    s, same, _ = timed_setup("tables", os.path.join(r.dir, "inputs", "tables"), TABLE_SEED)
    r.check(same, "table generation is not deterministic")
    return s, os.path.join(r.dir, "inputs", "tables0")


def load_reference():
    with open(os.path.join(HERE, "reference.json")) as f:
        return json.load(f)


def run_queries(r, jvm):
    a = r.args
    gen_s, tables = make_tables(r)
    names = seeded(QUERY_SUBSET, a.seed)
    r.record["order"] = names
    out = os.path.join(r.dir, "suite.json")
    plant = ["-Dperfbench.plant=" + names[0]] if a.plant == "result" else []
    w, rc, rss, l0, tf = jvm.run("perfbench.QuerySuite", [tables, out, str(a.seconds), ",".join(names)],
                                 "query-suite", extra=plant)
    if rc != 0 or not os.path.exists(out):
        r.op(rc or 1, "query suite JVM")
        return None, None, None
    with open(out) as f:
        s = json.load(f)
    ref = load_reference()["queries"]
    r.attempted += s["attempted"]
    for n, errs in s["errors"].items():
        r.failed += len(errs)
        r.problems += ["%s %s" % (n, e) for e in errs]
    for n in names:
        got = s["checks"].get(n)
        want = ref.get(n)
        r.check(got is not None and want is not None and got["checksum"] == want["checksum"]
                and got["rows"] == want["rows"],
                "query %s result %s differs from reference %s" % (n, got, want))
    cold = s["cold"]
    # A query's warm time is its fastest timed pass (the JIT-settle
    # passes before them are not recorded): the host's slow spells only
    # ever add time, and last up to a pass or two.
    warm = {n: min(v) for n, v in s["warm"].items() if v}
    setup_s = gen_s + (s["ready_ms"] - l0) / 1000.0
    metrics = {"setup_s": setup_s,
               "phase1_s": sum(cold.values()),
               "phase2_s": sum(warm.values()),
               "op_p50_s": quantile(list(warm.values()), 0.5) if warm else None,
               "op_p90_s": quantile(list(warm.values()), 0.9) if warm else None,
               "peak_rss_mb": rss}
    if len(cold) < len(names) or len(warm) < len(names):
        metrics["phase1_s"] = metrics["phase2_s"] = None
    r.record.update({"suite": {k: s[k] for k in ["cold", "warm", "warm_passes", "errors"]},
                     "figures": {"query_first_total_s": metrics["phase1_s"],
                                       "query_total_s": metrics["phase2_s"],
                                       "query_p50_s": metrics["op_p50_s"], "query_p90_s": metrics["op_p90_s"]},
                     "op_samples": len(warm)})
    layers = None
    if a.trace:
        t = load_trace(tf)
        acc = {}
        add_counters(acc, s["counters_cold"])
        add_counters(acc, s["counters_warm"])
        windows = [tuple(s["cold_window"]), tuple(s["warm_window"])]
        acc["session.launch_to_context_ms"] = t["counters"].get("session.launch_to_context_ms", 0.0)
        for f in FAMILIES:
            acc["query.family_s.%s" % f] = sum(v for n, v in warm.items() if family(n) == f)
        layers = layer_metrics(acc, windows, t["spans"])
    e2e = metrics["phase1_s"] + metrics["phase2_s"] if metrics["phase1_s"] is not None else None
    return metrics, layers, e2e


def run_stores(r, jvm):
    a = r.args
    gen_s, tables = make_tables(r)
    land_s, same, landed = timed_setup("landing", os.path.join(r.dir, "inputs", "landing"), a.seed)
    r.check(same, "landing generation is not deterministic")
    landing = os.path.join(r.dir, "inputs", "landing0")
    # A fixed order: the store built or probed first pays the cold code
    # paths, up to half its time, so a seeded order spread the build
    # and probe figures between seeds.
    order = PROBES
    work = os.path.join(r.dir, "work")
    out = os.path.join(r.dir, "stores.json")
    w, rc, rss, l0, tf = jvm.run("perfbench.StoreCycle", [tables, landing, work, out, str(a.seconds),
                                                          ",".join(order)], "store-cycle")
    if rc != 0 or not os.path.exists(out):
        r.op(rc or 1, "store cycle JVM")
        return None, None, None
    with open(out) as f:
        s = json.load(f)
    ref = load_reference()
    r.attempted += s["attempted"]
    for n, errs in s["errors"].items():
        r.failed += len(errs)
        r.problems += ["%s %s" % (n, e) for e in errs]
    for p in PROBES:
        want = ref["queries"].get(ref["probe_gate"][p])
        for got in s["checks"].get(p, []):
            r.check(want is not None and got["checksum"] == want["checksum"] and got["rows"] == want["rows"],
                    "probe %s result %s differs from its gate rows %s" % (p, got, want))
    for st, n in landed.items():
        f = s["folds"].get(st)
        r.check(f is not None and f["rows_in"] == n and f["batches"] >= 1,
                "fold %s consumed %s of %d landed rows" % (st, f, n))
    probes = {p: statistics.median(v) for p, v in s["probes"].items() if v}
    execs = [t for v in s["probes"].values() for t in v]
    writes = sum(s["builds"].values()) + sum(f["s"] for f in s["folds"].values())
    setup_s = gen_s + land_s + (s["ready_ms"] - l0) / 1000.0
    complete = len(s["builds"]) == len(STORE_GROUPS) and len(s["folds"]) == len(gen.STREAMS) \
        and len(probes) == len(PROBES)
    metrics = {"setup_s": setup_s,
               "phase1_s": writes if complete else None,
               "phase2_s": sum(probes.values()) if complete else None,
               "op_p50_s": quantile(execs, 0.5) if execs else None,
               "op_p90_s": quantile(execs, 0.9) if execs else None,
               "peak_rss_mb": rss}
    sizes = {g: dir_size(os.path.join(work, "stores", g)) for g in s["builds"]}
    table_bytes = {t: os.path.getsize(os.path.join(tables, t + ".parquet")) for t in ["documents", "embeddings"]}
    input_bytes = sum(table_bytes["embeddings" if g == "psi" else "documents"] for g in sizes)
    r.record.update({"stores": {k: s[k] for k in ["builds", "probes", "folds", "rounds", "errors"]},
                     "store_sizes": sizes,
                     "figures": {"store_build_s": sum(s["builds"].values()),
                                       "stream_fold_s": sum(f["s"] for f in s["folds"].values()),
                                       "probe_p50_s": metrics["op_p50_s"], "probe_p90_s": metrics["op_p90_s"],
                                       "store_bytes_per_input_byte":
                                           sum(v[0] for v in sizes.values()) / input_bytes if input_bytes else None},
                     "op_samples": len(execs)})
    layers = None
    if a.trace:
        t = load_trace(tf)
        acc = {}
        for k in ["counters_build", "counters_probe", "counters_fold"]:
            add_counters(acc, s[k])
        windows = [tuple(s["build_window"]), tuple(s["probe_window"]), tuple(s["fold_window"])]
        acc["session.launch_to_context_ms"] = t["counters"].get("session.launch_to_context_ms", 0.0)
        for g, v in s["builds"].items():
            acc["store.create_ms.%s" % g] = v * 1000.0
        for p, v in probes.items():
            acc["store.probe_ms.%s" % p] = v * 1000.0
        for g, (b, n) in sizes.items():
            acc["store.bytes.%s" % g] = b
            acc["store.files.%s" % g] = n
        acc["store.bytes_per_input_byte"] = r.record["figures"]["store_bytes_per_input_byte"] or 0.0
        layers = layer_metrics(acc, windows, t["spans"])
    e2e = metrics["phase1_s"] + metrics["phase2_s"] if metrics["phase1_s"] is not None else None
    return metrics, layers, e2e


RUNNERS = {"xena_pipeline": run_xena, "query_suite": run_queries, "store_cycle": run_stores}


def code_digest():
    """Digest of the code a run executes: the compiled program and
    benchmark (the build's source digests) and the harness files."""
    h = hashlib.sha256()
    with open(os.path.join(build.build_dir(), "stamp"), "rb") as f:
        h.update(f.read())
    for path in sorted(glob.glob(os.path.join(HERE, "*.py")) + [os.path.join(HERE, "log4j2.properties")]):
        with open(path, "rb") as f:
            h.update(os.path.basename(path).encode() + b"\0" + f.read())
    return h.hexdigest()


def untraced_twin(args):
    """The latest correct untraced run in this checkout of the same
    workload, seed and window on the same code, or None."""
    want = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": 0,
            "code": code_digest()}
    best = None
    for path in glob.glob(os.path.join(ROOT, ".bench_runs", "*", "record.json")):
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        if all(rec.get(k) == v for k, v in want.items()) and rec.get("result", {}).get("correct") \
                and rec.get("e2e_s") is not None and (best is None or rec["run_id"] > best["run_id"]):
            best = rec
    return best


def execute(args):
    r = Run(args)
    r.record["load_before"] = host_load()
    jvm = Jvm(r.dir, args.trace, r.id)
    metrics, layers, e2e = RUNNERS[args.workload](r, jvm)
    r.record["load_after"] = host_load()
    return r, metrics, layers, e2e


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant", choices=["none", "cell", "result"], default="none",
                    help="self-test: plant a wrong matrix cell (xena_pipeline) or query result (query_suite)")
    args = ap.parse_args(argv)
    try:
        build.build()
    except build.BuildError as e:
        sys.stderr.write("perfbench: %s\n" % e)
        return 2
    base, r0 = None, None
    if args.trace:
        # Tracing overhead: traced minus untraced end-to-end of the same
        # seed on the same code. An untraced run of it in this checkout
        # serves; otherwise this invocation runs one first, and its
        # checks count too.
        twin = untraced_twin(args)
        if twin:
            base = twin["e2e_s"]
        else:
            r0, m0, _, base = execute(argparse.Namespace(**dict(vars(args), trace=0, plant="none")))
            finish(r0, m0, None, base, quiet=True)
            twin = r0.record
    r, metrics, layers, e2e = execute(args)
    if layers is not None:
        layers["trace.e2e_s"] = e2e or 0.0
        layers["trace.overhead_s"] = (e2e - base) if (e2e is not None and base is not None) else 0.0
    if r0:
        r.attempted += r0.attempted
        r.failed += r0.failed
        r.problems = ["untraced pass: %s" % p for p in r0.problems] + r.problems
    if args.trace:
        r.record["untraced_run"] = {"run_id": twin["run_id"], "e2e_s": base, "this_invocation": r0 is not None}
    return finish(r, metrics, layers, e2e)


def finish(r, metrics, layers, e2e, quiet=False):
    args = r.args
    missing = [k for k in END_TO_END if metrics is None or metrics.get(k) is None]
    correct = r.failed == 0 and not missing and r.attempted > 0
    if args.trace:
        out = {k: {"value": (layers or {}).get(k, 0.0), "unit": layer_unit(k)} for k in per_layer_names()}
    else:
        out = {k: {"value": (metrics or {}).get(k) if (metrics or {}).get(k) is not None else 0.0,
                   "unit": UNITS[k]} for k in END_TO_END}
    result = {"correct": correct, "attempted": max(r.attempted, 1), "failed": r.failed, "metrics": out}
    r.record.update({"result": result, "problems": r.problems[:200], "e2e_s": e2e, "end_to_end": metrics})
    with open(os.path.join(r.dir, "record.json"), "w") as f:
        json.dump(r.record, f, indent=1, default=str)
    for d in ["inputs", "out", "work", "replay", "tmp"]:
        shutil.rmtree(os.path.join(r.dir, d), ignore_errors=True)
    if quiet:
        return 0
    for p in r.problems[:20]:
        print("problem: %s" % p)
    print("detail: %s" % json.dumps(r.record.get("figures", {}), default=str))
    print(json.dumps(result))
    return 0 if correct else 1


def layer_unit(name):
    if name.endswith("_ms") or ".create_ms." in name or ".probe_ms." in name:
        return "ms"
    if name.endswith("_s") or name.startswith("query.family_s."):
        return "s"
    if "bytes" in name and not name.endswith("per_input_byte"):
        return "bytes"
    if name in ("exec.core_utilization", "store.bytes_per_input_byte"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    # A terminated run still kills and reaps the JVM it is waiting on.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
