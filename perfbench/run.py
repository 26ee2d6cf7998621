#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload v3_corpus --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline); inputs are generated from the seed
and cached under perfbench/.data. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (and a span file
is written under perfbench/out). Wrong outputs exit with code 3.

--record stores the run's output fingerprints as the references in
perfbench/golden.json instead of checking against them.
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
import gen  # noqa: E402
import metrics as M  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
DATA = os.path.join(HERE, ".data")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
GOLDEN = os.path.join(HERE, "golden.json")

WORKLOADS = ("v3_corpus", "ingest_drops")
SETUPS = 2
# v3_corpus runs passes until --seconds have passed, at least 3. The ingest
# runs exactly 2, each a compaction cycle of two rounds, because its
# outputs depend on the number of rounds.
MIN_PASSES = {"v3_corpus": 3, "ingest_drops": 2}
# Input sizes. v3_corpus: 250 base docs x 20 copies = 5k docs, 250 base
# vectors x 10 copies = 2.5k vectors. ingest_drops: drops of 250 docs (+25
# planted twins from the second drop on), one per round of a run.
V3_BASE_DOCS, V3_COPIES, V3_BASE_VECS = 250, 20, 250
DROP_DOCS, DROP_TWINS = 250, 25
DROP_POOL = SETUPS + 2 * MIN_PASSES["ingest_drops"]
HEAP = "3g"
JVM_TIMEOUT = 170
# a run whose co-tenant load (busy cores not ours) exceeds this is flagged
MAX_OTHER_CORES = 0.25

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB",
}
# v3 spec nodes whose compile launches jobs (the others are lazy and run
# inside a downstream node's cache fill)
V3_NODES = ("passed", "qvecs", "sem", "cleaned", "sel", "train")
# operators timed by the jobs of the spec node that runs them; span and
# exact dedup run lazily inside `cleaned`, so the harness times them alone
OPERATOR_NODES = {"quality_score": "passed", "semantic_dedup": "sem",
                  "decontaminate": "cleaned", "dsir": "sel"}
KERNELS = ("word_ngrams", "top_ngram_frac", "hashed_grams", "minhash_sig",
           "char_shingles", "simhash", "quality_features", "fingerprint",
           "tokens", "nearest_cell")
PER_LAYER = (
    [f"functions.{k}.ns_row" for k in KERNELS] + ["functions.cosine_normed.ns_pair"]
    + [f"operators.{o}.s" for o in list(OPERATOR_NODES) + ["span_dedup", "exact_dedup", "pack"]]
    + ["operators.semantic.pairs_evaluated", "operators.semantic.pair_yield",
       "operators.minhash.candidate_yield"]
    + ["plans.compile_s", "plans.compile_jobs", "plans.critical_path_s",
       "plans.gap_s", "plans.accounted_frac"]
    + [f"plans.node.{n}.{m}" for n in V3_NODES for m in ("wall_s", "task_s")]
    + ["streaming.start_s", "streaming.add_batch_s", "streaming.query_planning_s",
       "streaming.wal_commit_s", "streaming.latest_offset_s",
       "streaming.batch_s.p50", "streaming.batch_s.tail", "streaming.batch_s.tail_pct",
       "streaming.batch_s.n",
       "sinks.bytes_written_mb", "sinks.store_files", "sinks.compaction_s",
       "sinks.store_bytes_per_doc", "sources.bytes_read_mb"]
    + ["spark.driver.analysis_s", "spark.driver.optimization_s", "spark.driver.planning_s",
       "spark.driver.gap_s", "spark.driver.jobs", "spark.driver.stages",
       "spark.driver.tasks", "spark.driver.sched_delay_s", "spark.driver.accounted_frac"]
    + ["spark.exec.task_s", "spark.exec.cpu_s", "spark.exec.busy_frac",
       "spark.exec.shuffle_write_mb", "spark.exec.shuffle_read_mb",
       "spark.exec.fetch_wait_s", "spark.exec.spill_mem_mb", "spark.exec.spill_disk_mb",
       "spark.exec.task_skew", "spark.exec.failed_tasks"]
    + ["cache.peak_mb", "cache.blocks_left"]
    + ["jvm.gc_s", "jvm.jit_s", "jvm.classes_loaded", "jvm.cpu_s"]
    + ["host.other_cores", "host.steal_cores"]
    + ["trace.wall_s", "trace.spans"]
)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# --- build -----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    t0 = time.time()
    log("building engine and harness (sbt, offline)")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = proc.stdout.splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")
    return cp[-1]


# --- inputs ----------------------------------------------------------------

def inputs(workload, seed):
    """Generate (once per seed) and return the input directory."""
    t0 = time.time()
    if workload == "v3_corpus":
        d = os.path.join(DATA, f"v3-{V3_BASE_DOCS}x{V3_COPIES}-{V3_BASE_VECS}-s{seed}")
        made = gen.publish(d, lambda t: gen.v3_corpus(t, seed, V3_BASE_DOCS, V3_COPIES,
                                                      V3_BASE_VECS))
    else:
        d = os.path.join(DATA, f"drops-{DROP_DOCS}+{DROP_TWINS}x{DROP_POOL}-s{seed}")
        made = gen.publish(d, lambda t: gen.ingest_drops(t, seed, DROP_POOL, DROP_DOCS,
                                                         DROP_TWINS))
    log(f"inputs {'generated' if made else 'cached'} in {time.time() - t0:.1f} s: {d}")
    return d


# --- the JVM side ----------------------------------------------------------

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, workload, input_dir, work, seconds, trace):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    # the throughput collector: under G1 the warm pass times fell into two
    # modes ~20% apart from run to run, and the peak RSS spread ~20%
    # no hsperfdata file: the JVM writes only inside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, input_dir, work, str(seconds),
            "1" if trace else "0", str(SETUPS), str(MIN_PASSES[workload]), out]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"workload {workload} did not finish within {JVM_TIMEOUT} s")
    if code != 0 or not os.path.exists(out):
        fail(f"workload {workload} exited with {code}")
    with open(out) as fh:
        return json.load(fh)


# --- metrics ---------------------------------------------------------------

def end_to_end(raw):
    """Medians over the timed passes; the set-up median over the set-ups."""
    passes = raw["passes"]
    return {
        "setup_s": M.median(raw["setups"]),
        "wall_s": M.median([p["wall"] for p in passes]),
        "items_per_s": M.median([p["items"] / p["wall"] for p in passes]),
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
    }


def spec_refs(node_spec):
    """Names a spec node references (its DAG dependencies)."""
    if isinstance(node_spec, dict):
        if node_spec.get("op") == "ref":
            return {node_spec["name"]}
        return set().union(*[spec_refs(v) for v in node_spec.values()] or [set()])
    if isinstance(node_spec, list):
        return set().union(*[spec_refs(v) for v in node_spec] or [set()])
    return set()


def critical_path(node_walls):
    with open(os.path.join(ROOT, "src/main/resources/specs/llm_pipeline_v3.json")) as fh:
        nodes = {n["name"]: spec_refs(n["spec"]) for n in json.load(fh)["nodes"]}
    memo = {}

    def longest(n):
        if n not in memo:
            memo[n] = node_walls.get(n, 0.0) + max([longest(r) for r in nodes[n]] or [0.0])
        return memo[n]
    return max(longest(n) for n in nodes)


def per_layer(raw, stores):
    """Layer metrics of the timed passes, per pass (sums divided by the
    number of passes), from the counters and spans of a traced run."""
    c = raw["counters"]
    n_pass = len(raw["passes"])
    win = raw["timed_window"]
    spans = [s for s in raw["spans"] if s["start"] >= win[0] and s["end"] <= win[1]]
    jobs = [s for s in spans if s["kind"] == "job"]
    phases = [s for s in spans if s["kind"] == "phase"]
    ours = [s for s in spans if s["kind"] in ("query", "call", "round")]
    out = {k: 0.0 for k in PER_LAYER}
    per_pass = lambda v: v / n_pass  # noqa: E731

    def inside(s, outer):
        return s["start"] >= outer["start"] and s["end"] <= outer["end"]

    def job_desc(j):
        return j["name"].split(":", 2)[2]

    for k, v in c.items():
        if k in out and not k.startswith(("functions.", "operators.")):
            out[k] = v if k in ("cache.peak_mb", "cache.blocks_left", "spark.exec.task_skew") \
                else per_pass(v)
        elif k in out:
            out[k] = v
    for p in ("analysis", "optimization", "planning"):
        out[f"spark.driver.{p}_s"] = per_pass(
            sum(s["end"] - s["start"] for s in phases if s["name"] == f"phase:{p}") / 1e3)
    timed_wall = (win[1] - win[0]) / 1e3
    window = {"start": win[0], "end": win[1]}
    out["spark.driver.gap_s"] = per_pass(M.self_time(window, jobs) / 1e3)
    out["spark.exec.busy_frac"] = M.busy_frac(c.get("spark.exec.task_s", 0.0), timed_wall,
                                              raw["cores"])
    # each query/call/round: driver phases + job wall + the time with
    # neither must add up to its wall (phases overlapping jobs would not)
    fracs = []
    for q in ours:
        js = [j for j in jobs if inside(j, q)]
        ps = [p for p in phases if inside(p, q)]
        gap = M.self_time(q, js + ps)
        job_wall = M.union_length([(j["start"], j["end"]) for j in js])
        fracs.append((sum(p["end"] - p["start"] for p in ps) + job_wall + gap)
                     / (q["end"] - q["start"]))
    out["spark.driver.accounted_frac"] = max(fracs) if fracs else 0.0

    # spec nodes: jobs carry the compiler's spec:<node> label
    compiles = [s for s in ours if s["name"] == "compile"]
    if compiles:
        task_s = {int(k): v for k, v in raw.get("job_task_s", {}).items()}
        node_walls = {}
        cjobs = [j for j in jobs if any(inside(j, s) for s in compiles)]
        for n in set(job_desc(j) for j in cjobs):
            nj = [j for j in cjobs if job_desc(j) == n]
            node_walls[n.removeprefix("spec:")] = M.union_length(
                [(j["start"], j["end"]) for j in nj]) / 1e3
            name = n.removeprefix("spec:")
            if name in V3_NODES:
                out[f"plans.node.{name}.wall_s"] = per_pass(node_walls[name])
                out[f"plans.node.{name}.task_s"] = per_pass(sum(
                    task_s.get(int(j["name"].split(":")[1]), 0.0) for j in nj))
        compile_s = sum(s["end"] - s["start"] for s in compiles) / 1e3
        gap = sum(M.self_time(s, [j for j in cjobs if inside(j, s)]) for s in compiles) / 1e3
        out["plans.compile_s"] = per_pass(compile_s)
        out["plans.compile_jobs"] = per_pass(len(cjobs))
        out["plans.gap_s"] = per_pass(gap)
        out["plans.accounted_frac"] = (sum(node_walls.values()) + gap) / compile_s
        out["plans.critical_path_s"] = per_pass(critical_path(node_walls))
        for op, node in OPERATOR_NODES.items():
            out[f"operators.{op}.s"] = per_pass(node_walls.get(node, 0.0))
        out["operators.pack.s"] = per_pass(
            sum(s["end"] - s["start"] for s in ours if s["name"] == "pack") / 1e3)

    rounds = [s for s in ours if s["kind"] == "round"]
    if rounds:
        walls = [(s["end"] - s["start"]) / 1e3 for s in rounds]
        started = [e for e in spans if e["kind"] == "event" and e["name"] == "stream:started"]
        out["streaming.start_s"] = M.median([
            (min([e["start"] for e in started if inside(e, r)] or [r["start"]]) - r["start"]) / 1e3
            for r in rounds])
        out["streaming.batch_s.p50"] = M.median(walls)
        t = M.tail(walls)
        if t:
            out["streaming.batch_s.tail_pct"], out["streaming.batch_s.tail"], _ = t
        out["streaming.batch_s.n"] = len(walls)
        # a round's batch id is its drop's index; the spec compacts after
        # batches b with (b + 1) % compact_every == 0
        every = raw["describe"]["compact_every"]
        batch = [int(s["name"].split(":")[1]) for s in rounds]
        compact = [w for b, w in zip(batch, walls) if (b + 1) % every == 0]
        rest = [w for b, w in zip(batch, walls) if (b + 1) % every != 0]
        if compact and rest:
            out["sinks.compaction_s"] = M.median(compact) - M.median(rest)
    if stores:
        nbytes, nfiles = M.dir_bytes(stores)
        out["sinks.store_files"] = nfiles
        # every landed document, set-up rounds included
        out["sinks.store_bytes_per_doc"] = nbytes / raw["describe"]["docs"]
    out["host.other_cores"] = raw["host"]["other_cores"]
    out["host.steal_cores"] = raw["host"]["steal_cores"]
    out["trace.wall_s"] = M.median([p["wall"] for p in raw["passes"]])
    out["trace.spans"] = len(raw["spans"])
    return out


# --- output checks ---------------------------------------------------------

def load_golden():
    if os.path.exists(GOLDEN):
        with open(GOLDEN) as fh:
            return json.load(fh)
    return {}


def check_outputs(workload, seed, raw):
    """Returns the number of wrong outputs. Every output must satisfy its
    invariants and fingerprint the same every time the run checks it; where
    references were recorded for this seed, the output must have one and
    match its row count and content hash. Outputs listed as unstable check
    their row count only."""
    golden = load_golden()
    ref = golden.get(workload, {}).get(str(seed))
    unstable = set(golden.get("unstable", {}).get(workload, []))
    if ref is None:
        log(f"no recorded reference for {workload} seed {seed}: "
            "invariants and cross-set-up agreement only")
    wrong, first = 0, {}
    for ch in raw["checks"]:
        bad = [i["name"] for i in ch["invariants"] if not i["ok"]]
        stable = ch["name"].split("@")[0] not in unstable
        if ref is not None and ch["name"] not in ref:
            bad.append("no reference recorded for it")
        for exp, what in ((first.setdefault(ch["name"], ch), "the first set-up"),
                          ((ref or {}).get(ch["name"]), "the reference")):
            if exp is None:
                continue
            if exp["rows"] != ch["rows"]:
                bad.append(f"rows {ch['rows']} != {exp['rows']} of {what}")
            elif stable and exp["hash"] != ch["hash"]:
                bad.append(f"content hash differs from {what}")
        if bad:
            wrong += 1
            log(f"WRONG output {ch['name']}: {'; '.join(bad)}")
    return wrong


def record(workload, seed, raw):
    """Store the run's fingerprints as the seed's references; an output
    whose hash changes between checks or recordings is marked unstable."""
    broken = [f"{ch['name']}: {i['name']}" for ch in raw["checks"]
              for i in ch["invariants"] if not i["ok"]]
    if broken:
        fail("not recording, invariants fail: " + "; ".join(broken))
    golden = load_golden()
    entry = golden.setdefault(workload, {}).setdefault(str(seed), {})
    seen = set()
    for ch in raw["checks"]:
        old = entry.get(ch["name"])
        if old and (old["rows"], old["hash"]) != (ch["rows"], ch["hash"]):
            log(f"{ch['name']} differs between runs: marking unstable")
            u = golden.setdefault("unstable", {}).setdefault(workload, [])
            if ch["name"].split("@")[0] not in u:
                u.append(ch["name"].split("@")[0])
                u.sort()
        if ch["name"] not in seen:
            entry[ch["name"]] = {"rows": ch["rows"], "hash": ch["hash"]}
            seen.add(ch["name"])
    golden[workload] = dict(sorted(golden[workload].items(), key=lambda kv: int(kv[0])))
    with open(GOLDEN, "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
        fh.write("\n")


# --- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft", "src/main/resources/specs"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine source not found ({need} missing under {ROOT})")

    cp = build()
    input_dir = inputs(args.workload, args.seed)
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(cp, args.workload, input_dir, work, args.seconds, args.trace)
        stores = raw.get("stores", [])
        if args.record:
            record(args.workload, args.seed, raw)
            log(f"recorded {len(raw['checks'])} fingerprints for {args.workload} "
                f"seed {args.seed}")
            return
        wrong = check_outputs(args.workload, args.seed, raw)
        other = raw["host"]["other_cores"]
        if other > MAX_OTHER_CORES:
            log(f"DEGRADED run: co-tenant load {other:.2f} cores > {MAX_OTHER_CORES} "
                "during the timed passes")
        steal = raw["host"]["steal_cores"]
        if steal > MAX_OTHER_CORES:
            log(f"host steal {steal:.2f} cores during the timed passes (hypervisor "
                "contention; diagnostic, not co-tenant load)")
        log(f"{len(raw['passes'])} passes in {raw['elapsed']:.1f} s; setups "
            + ", ".join(f"{s:.2f}" for s in raw["setups"]) + f"; host other "
            f"{other:.2f} steal {steal:.2f} cores")
        if args.trace:
            values = per_layer(raw, stores)
            units = {}
            os.makedirs(OUT, exist_ok=True)
            with open(os.path.join(OUT, f"spans-{args.workload}-s{args.seed}.json"), "w") as fh:
                json.dump(raw["spans"], fh)
        else:
            values = end_to_end(raw)
            units = END_TO_END
        # a pass that throws aborts the JVM, and the run exits without a
        # result: a printed result has no failed passes
        result = {
            "correct": wrong == 0,
            "attempted": len(raw["passes"]),
            "failed": 0,
            "metrics": {k: {"value": v, "unit": units.get(k, layer_unit(k))}
                        for k, v in values.items()},
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if wrong == 0 else 3)


def layer_unit(name):
    if name.startswith("streaming.batch_s.") and name[-2:] not in (".n", "ct"):
        return "s"
    for suffix, unit in (("_s", "s"), (".s", "s"), ("_mb", "MB"), (".ns_row", "ns"),
                         (".ns_pair", "ns"), ("_frac", "ratio"), ("_yield", "ratio"),
                         ("_pct", "%"), ("_cores", "cores"), (".task_skew", "ratio"),
                         ("_per_doc", "B")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
