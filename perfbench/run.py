#!/usr/bin/env python3
"""graft's benchmark: one command, two workloads, end-to-end and per-layer
metrics.

    python3 perfbench/run.py --workload catalog|qc_session \
        --seed N --seconds S --trace 0|1 [--ops sample|all]

Run from the repository root. The first run builds the library and the
benchmark runner from source (sbt, offline) into `.bench_build/` and the
sbt target directories; later runs reuse the build while the sources are
unchanged. Inputs are generated from the seed into `.bench_build/data/`.
The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. A full record of
the run (per-op timings, workload properties, /proc contention samples) is
written to `.bench_build/runs/<workload>-<seed>-<trace>/summary.json`.
`--ops all` runs every catalog entry instead of the sample, with no time
limit; it is how the sample's weights were measured (see sample.py).
See perfbench/README.md for what each workload and metric is for.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("catalog", "qc_session")
BASE_SF = 0.01          # catalog inputs: the sf0.01 shape, 1.8 MB
QC_COMPOUNDS, QC_POINTS = 24, 400
UTC_OFFSET_HOURS = -2
HEAP = "3g"
SETUPS = 3              # set-ups per run, each in a fresh JVM
JVM_TIMEOUT_S = 170     # all of a run's JVMs together
SETUP_FAIL = 2
# The catalog sample: entry -> weight. The 259 entries of SparkEntry.queries,
# ordered by their measured warm latency on these inputs, are cut into
# equal strata; one entry stands for each stratum, chosen so every module
# appears, and its weight is the stratum's size. The timed memo release and
# rebuild plus a pass's weighted op time estimate one full-catalog pass.
# sample.py derived this table from an `--ops all` run (seed 7, 4 cores).
CATALOG_SAMPLE = {
    "dedup_containment": 16,  # Dedup
    "ds_benford": 16,  # Selection
    "ds_histogram": 16,  # Selection
    "embed_cluster": 16,  # Similarity
    "embed_kmeans_step": 16,  # Similarity
    "graph_cluster_density": 16,  # Graph
    "layout_zorder": 16,  # Layout
    "mm_dedup": 16,  # Multimodal
    "q_bitmap_intersect": 16,  # Analytics
    "q_funnel_time": 17,  # Analytics
    "q_interval_coverage": 16,  # Analytics
    "q_range_join": 17,  # Temporal
    "sketch_hll_union": 17,  # Sketches
    "stream_interval_join": 16,  # EventStream
    "text_char_diversity": 16,  # TextAnalysis
    "text_rarity": 16,  # TextAnalysis
}

END_TO_END = [("setup_s", "s"), ("run_s", "s"), ("op_p50_s", "s"), ("peak_rss_mb", "MB")]
MODULES = ["Selection", "Analytics", "Temporal", "Dedup", "Graph", "Similarity",
           "TextAnalysis", "Sketches", "Layout", "Multimodal", "EventStream", "GraftQC"]
PER_LAYER = (
    [(f"{m}.{k}", u, "lower") for m in MODULES for k, u in
     [("construct_s", "s"), ("construct_jobs", "count"), ("plan_s", "s"), ("exec_s", "s")]]
    + [("floor_share", "ratio", "lower"),
       ("memo.build_s", "s", "lower"), ("memo.build_jobs", "count", "lower"),
       ("memo.release_s", "s", "lower"), ("memo.cached_mb", "MB", "lower"),
       ("memo.leaked_rdds", "count", "lower"),
       ("exec.jobs", "count", "lower"), ("exec.stages", "count", "lower"),
       ("exec.tasks", "count", "lower"), ("exec.task_s", "s", "lower"),
       ("exec.task_cpu_s", "s", "lower"), ("exec.gc_s", "s", "lower"),
       ("exec.shuffle_read_mb", "MB", "lower"), ("exec.shuffle_write_mb", "MB", "lower"),
       ("exec.spill_mb", "MB", "lower"), ("exec.busy_frac", "ratio", "higher"),
       ("sources.resolve_s", "s", "lower"), ("sources.json_load_s", "s", "lower"),
       ("sources.input_mb", "MB", "lower"),
       ("sinks.write_s", "s", "lower"), ("sinks.output_mb", "MB", "lower"),
       ("sinks.files", "count", "lower"),
       ("export.json_s", "s", "lower"),
       ("session.start_s", "s", "lower"), ("session.warm_s", "s", "lower"),
       ("trace.overhead_s", "s", "lower")])
UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER}

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]] + [
    "-Duser.timezone=UTC", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


class SetupError(Exception):
    pass


# --- build -------------------------------------------------------------------

def _source_stamp(root):
    h = hashlib.sha256()
    paths = ["build.sbt", "project/build.properties", "perfbench/jvm/build.sbt",
             "perfbench/jvm/project/build.properties"]
    for base in ["src/main", "perfbench/jvm/src"]:
        for d, dirs, files in os.walk(os.path.join(root, base)):
            dirs.sort()
            paths += [os.path.relpath(os.path.join(d, f), root) for f in sorted(files)]
    for p in paths:
        h.update(p.encode())
        with open(os.path.join(root, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, bb):
    """Compile the library and the runner; return the runtime classpath."""
    for need in ["build.sbt", "src/main/scala/graft", "perfbench/jvm/build.sbt"]:
        if not os.path.exists(os.path.join(root, need)):
            raise SetupError(f"not a graft checkout: {need} is missing under {root}")
    stamp = _source_stamp(root)
    cp_file, stamp_file = os.path.join(bb, "classpath.txt"), os.path.join(bb, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(root, "perfbench", "jvm"), env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=800)
    lines = [ln for ln in r.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SetupError("build failed")
    # class directories -> jars, so the JVM can map the classes from a
    # class-data-sharing archive (it refuses directories on the classpath)
    cp = []
    for entry in lines[-1].strip().split(os.pathsep):
        if os.path.isdir(entry):
            jar = os.path.join(bb, "jars", hashlib.sha1(entry.encode()).hexdigest()[:12] + ".jar")
            os.makedirs(os.path.dirname(jar), exist_ok=True)
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, dirs, files in os.walk(entry):
                    dirs.sort()
                    for f in sorted(files):
                        p = os.path.join(d, f)
                        z.write(p, os.path.relpath(p, entry))
            entry = jar
        cp.append(entry)
    cp = os.pathsep.join(cp)
    # Record a class-data-sharing archive of the classes a Spark session
    # loads, so every measured run maps the same archive instead of loading
    # those classes from the jars. The training run is the runner's own
    # self-test, which also checks the listener's phase attribution.
    jsa = os.path.join(bb, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    st = os.path.join(bb, "selftest")
    shutil.rmtree(st, ignore_errors=True)
    os.makedirs(os.path.join(st, "tmp"))
    r = subprocess.run(["java", f"-Xmx{HEAP}", f"-XX:ArchiveClassesAtExit={jsa}", "-Xlog:cds=off",
                        "-Xlog:cds+dynamic=off", *JAVA_OPTS,
                        f"-Djava.io.tmpdir={os.path.join(st, 'tmp')}", "-cp", cp,
                        "graft.perfbench.Main", "--selftest", "1", "--out", st],
                       stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=300)
    if r.returncode != 0 or not os.path.exists(jsa):
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SetupError("runner self-test failed")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# --- inputs --------------------------------------------------------------------

def _generate_once(dst, make):
    """Generate into `dst` unless a finished copy is there. The first time,
    generate twice and require byte-identical output (same seed, same
    inputs); record the digest so later runs can re-verify it."""
    marker = os.path.join(dst, ".digest")
    if os.path.exists(marker):
        with open(marker) as f:
            want = f.read()
        if gen.dir_digest(os.path.join(dst, "in")) != want:
            raise SetupError(f"generated inputs under {dst} changed since generation")
        return want
    tmp_a, tmp_b = dst + ".tmp-a", dst + ".tmp-b"
    for t in (tmp_a, tmp_b):
        shutil.rmtree(t, ignore_errors=True)
        make(os.path.join(t, "in"))
    da, db = gen.dir_digest(os.path.join(tmp_a, "in")), gen.dir_digest(os.path.join(tmp_b, "in"))
    shutil.rmtree(tmp_b)
    if da != db:
        raise SetupError("the same seed generated different inputs")
    with open(os.path.join(tmp_a, ".digest"), "w") as f:
        f.write(da)
    shutil.rmtree(dst, ignore_errors=True)
    os.replace(tmp_a, dst)
    return da


def prepare(workload, seed, bb):
    """Generate (or reuse) the workload's inputs; return (input dir, extra
    JVM args, input digest)."""
    # inputs are cached per seed and per generator version
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha1(f.read() + repr((BASE_SF, QC_COMPOUNDS, QC_POINTS,
                                                UTC_OFFSET_HOURS)).encode()).hexdigest()[:10]
    data = os.path.join(bb, "data", version)
    base = os.path.join(data, f"base-{seed}")
    dig = _generate_once(base, lambda d: gen.tables(d, seed, BASE_SF))
    if workload == "catalog":
        return os.path.join(base, "in"), [], dig
    qc = os.path.join(data, f"qc-{seed}")

    def make_qc(d):
        pts = gen.qc_series(os.path.join(d, "series"), seed, QC_COMPOUNDS, QC_POINTS)
        with open(os.path.join(d, "script.json"), "w") as f:
            json.dump(gen.qc_script(pts, seed, UTC_OFFSET_HOURS), f)
    dig = _generate_once(qc, make_qc)
    series = os.path.join(qc, "in", "series")
    return series, ["--script", series], dig


def _dir_mb(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if not f.startswith(".")) / 1048576.0


# --- checks --------------------------------------------------------------------

def expect_catalog(out, data, proc, deadline):
    """Wait for the runner to name its ops, then compute their expected
    outputs with the DuckDB oracle (cached per seed) while the runner runs
    its untimed check pass."""
    path = os.path.join(out, "oracle_sql.json")
    while not os.path.exists(path):
        if (proc is not None and proc.poll() is not None) or time.time() > deadline:
            return None
        time.sleep(0.05)
    with open(path) as f:
        oracle = json.load(f)
    return check.oracle_expected(data, oracle, os.path.join(os.path.dirname(data), "expected.json"))


def load_qc(qc_dir):
    with open(os.path.join(qc_dir, "script.json")) as f:
        script = json.load(f)
    points = {}
    for fn in sorted(os.listdir(os.path.join(qc_dir, "series"))):
        with open(os.path.join(qc_dir, "series", fn)) as f:
            points[fn[:-len(".json")]] = json.load(f)
    return check.qc_replay(points, script, UTC_OFFSET_HOURS)


def check_catalog(res, out, exp):
    """(wrong ops by name -> reason, number of wrong executions). The check
    pass's dump of every op is compared with the DuckDB oracle's result;
    every timed execution's row count with the oracle's."""
    wrong = {}
    for o in res["check"]["ops"]:
        name = o["op"]
        e = exp[name]
        if o.get("error"):
            continue
        if e[0] == "error":
            wrong[name] = f"oracle failed: {e[1]}"
            continue
        cols, n, dg = check.digest(*check.read_dump(os.path.join(out, "dumps", name + ".jsonl")))
        if cols != e[0]:
            wrong[name] = f"columns {cols} != {e[0]}"
        elif n != e[1]:
            wrong[name] = f"rows {n} != {e[1]}"
        elif dg != e[2]:
            wrong[name] = "content digest differs"
    bad = len(wrong)
    for p in res["passes"]:
        for o in p["ops"]:
            if not o.get("error") and exp[o["op"]][0] != "error" and o["rows"] != exp[o["op"]][1]:
                bad += 1
                wrong.setdefault(o["op"], f"timed rows {o['rows']} != {exp[o['op']][1]}")
    return wrong, bad


def check_qc(res, want):
    wrong, bad = {}, 0
    flags = {}
    if any(o["op"] == "commit" and "written" not in o and not o.get("error")
           for o in res["check"]["ops"]):
        wrong["check"] = "the check pass did not read back a commit"
        bad += 1
    for p in [res["check"]] + res["passes"]:
        for o in p["ops"]:
            if o.get("error"):
                continue
            i, w, reason = o["step"], want[o["step"]], None
            if "rows" in w and o["rows"] != w["rows"]:
                reason = f"rows {o['rows']} != {w['rows']}"
            elif "json_sha" in w and (o.get("json_sha") != w["json_sha"]
                                      or o.get("written", w["written"]) != w["written"]):
                reason = "export bytes or written rows differ from the replay"
            elif o["op"] in ("outliers", "gaps", "rollingZ", "flatline"):
                if flags.setdefault(i, o["rows"]) != o["rows"]:
                    reason = "flag rows differ between passes"
            if reason:
                bad += 1
                wrong.setdefault(f"{i}:{o['op']}", reason)
    return wrong, bad


def properties(workload, res, data):
    """Workload-property checks; a violation fails set-up."""
    props = {"input_mb": _dir_mb(data), "heap_max_mb": res["heap_max_mb"]}
    if props["input_mb"] * 8 > props["heap_max_mb"]:
        raise SetupError(f"inputs ({props['input_mb']:.1f} MB) too large for the JVM heap")
    if workload == "catalog":
        # every table, and every op's plan, below the program's own
        # leaf-byte gate: the catalog runs the small-data branches
        gate = res["gate_bytes"]
        ops = {o["op"]: o["leaf_bytes"] for o in res["check"]["ops"] if "leaf_bytes" in o}
        props.update(gate_bytes=gate, leaf_bytes=res["leaf_bytes"], op_leaf_bytes=ops)
        # a plan with an unsized leaf (an RDD) reads Long.MaxValue: unknown
        ops = {k: (None if v == 2 ** 63 - 1 else v) for k, v in ops.items()}
        props["op_leaf_bytes"] = ops
        over = {k: v for k, v in list(res["leaf_bytes"].items()) + list(ops.items())
                if v is not None and v >= gate}
        if over:
            raise SetupError(f"catalog inputs reach the leaf-byte gate ({gate}): {over}")
    return props


# --- metrics -------------------------------------------------------------------

def _med(xs):
    xs = [x for x in xs if x is not None]
    return check.median(xs) if xs else 0.0


def op_latencies(passes):
    """Each op's median latency over the passes (a failed execution is never
    a latency sample)."""
    by_op = {}
    for p in passes:
        for o in p["ops"]:
            if not o.get("error"):
                by_op.setdefault((o.get("step"), o["op"]), []).append(
                    o["construct"] + o["plan"] + o["exec"])
    return [check.median(v) for v in by_op.values()]


def pass_s(p, weights):
    """A timed pass's time. Catalog: each sampled op's time times its
    weight, an estimate of the ops of one full-catalog pass. QC session:
    the pass's wall time."""
    if not weights:
        return p["wall_s"]
    return sum(weights[o["op"]] * (o["construct"] + o["plan"] + o["exec"]) for o in p["ops"])


def memo_s(res):
    """The timed region's one memo release and rebuild (catalog only)."""
    m = res.get("memo", {})
    b = m.get("build")
    return m["release_s"] + b["construct"] + b["plan"] + b["exec"] if b else 0.0


def run_s(res, passes, weights):
    """The memo release and rebuild plus the median pass time over the
    passes in which nothing failed (a failed op is never timed as fast; the
    run then fails anyway)."""
    clean = [p for p in passes if not any(o.get("error") for o in p["ops"])] or passes
    return memo_s(res) + _med([pass_s(p, weights) for p in clean])


def end_to_end(res, passes, setups, weights):
    return {"setup_s": _med([s["total_s"] for s in setups]),
            "run_s": run_s(res, passes, weights),
            "op_p50_s": _med(op_latencies(passes)),
            "peak_rss_mb": res["peak_rss_mb"]}


def per_layer(res, traced, untraced, setups, props, weights):
    m = {}
    w = (lambda o: weights[o["op"]]) if weights else (lambda o: 1)  # noqa: E731

    def med(f):
        return _med([f(p) for p in traced])

    def lis(p, module=None, phase=None, key="jobs"):
        return sum(x[key] for x in p.get("listener", [])
                   if (module is None or x["module"] == module)
                   and (phase is None or x["phase"] == phase))

    for mod in MODULES:
        for ph in ("construct", "plan", "exec"):
            m[f"{mod}.{ph}_s"] = med(lambda p: sum(o[ph] for o in p["ops"] if o["module"] == mod))
        m[f"{mod}.construct_jobs"] = med(lambda p: lis(p, mod, "construct"))

    def floor(p):
        tot = sum(w(o) * (o["construct"] + o["plan"] + o["exec"]) for o in p["ops"])
        return sum(w(o) * (o["construct"] + o["plan"]) for o in p["ops"]) / tot if tot else 0.0
    m["floor_share"] = med(floor)
    memo = res["memo"]
    m["memo.build_s"] = memo["build"]["construct"] if "build" in memo else 0.0
    m["memo.build_jobs"] = lis(memo, "memo", "construct")
    m["memo.release_s"] = memo.get("release_s", 0.0)
    m["memo.cached_mb"] = memo.get("cached_mb", 0.0)
    m["memo.leaked_rdds"] = res.get("final_leaked_rdds", 0)
    for k in ("jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"exec.{k}"] = med(lambda p: lis(p, key=k))
    m["exec.busy_frac"] = med(lambda p: lis(p, key="task_s") / (p["wall_s"] * res["cores"]))
    m["sources.resolve_s"] = _med([s["resolve_s"] for s in setups])
    m["sources.json_load_s"] = med(lambda p: sum(o["construct"] + o["plan"] + o["exec"]
                                                 for o in p["ops"] if o["op"] == "load"))
    m["sources.input_mb"] = props["input_mb"]
    commits = lambda p: [o for o in p["ops"] if o["op"] == "commit" and "files" in o]  # noqa: E731
    m["sinks.write_s"] = med(lambda p: p.get("write_s", 0.0))
    m["sinks.output_mb"] = med(lambda p: commits(p)[-1]["output_mb"] if commits(p) else 0.0)
    m["sinks.files"] = med(lambda p: commits(p)[-1]["files"] if commits(p) else 0)
    m["export.json_s"] = med(lambda p: p.get("export_s", 0.0))
    m["session.start_s"] = _med([s["start_s"] for s in setups])
    m["session.warm_s"] = _med([s["warm_s"] for s in setups])
    m["trace.overhead_s"] = run_s(res, traced, weights) - run_s(res, untraced, weights)
    return m


def emit(correct, attempted, failed, metrics):
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}}))


# --- main ----------------------------------------------------------------------

def run_jvm(cmd, out, deadline, work=lambda proc: None):
    """Start the runner JVM, telling it when it was launched; call
    `work(proc)` while it runs and wait for it. The JVM is killed at
    `deadline` and on any exception. Returns (exit code, work's result)."""
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd + ["--out", out, "--launched", str(int(time.time() * 1000))],
                                stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            r = work(proc)
            return proc.wait(timeout=max(1.0, deadline - time.time())), r
        except subprocess.TimeoutExpired:
            proc.kill()
            return proc.wait(), None
        except BaseException:
            proc.kill()
            proc.wait()
            raise


def jvm_failed(code, out):
    """Report a JVM that died or hung, naming the op it was on."""
    last = "set-up"
    prog = os.path.join(out, "progress.log")
    if os.path.exists(prog):
        with open(prog) as f:
            ops = [ln.split(" ", 1)[1].strip() for ln in f if ln.startswith("op ")]
        last = ops[-1] if ops else last
    print(f"runner JVM exited with code {code} during op {last}; "
          f"log: {os.path.join(out, 'jvm.log')}", file=sys.stderr)
    emit(False, 1, 1, {})
    return 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ops", choices=("sample", "all"), default="sample",
                    help="catalog: the weighted sample, or every entry (no time limit)")
    a = ap.parse_args()
    # a terminated run still stops its runner JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    root = os.getcwd()
    bb = os.path.join(root, ".bench_build")
    try:
        os.makedirs(bb, exist_ok=True)
        cp = build(root, bb)
        data, extra, digest = prepare(a.workload, a.seed, bb)
        expected = load_qc(os.path.dirname(data)) if a.workload == "qc_session" else None
    except (SetupError, subprocess.TimeoutExpired, OSError) as e:
        print(f"set-up failed: {e}", file=sys.stderr)
        return SETUP_FAIL

    t_jvm = time.time()
    full = a.workload == "catalog" and a.ops == "all"
    weights = ({} if a.workload != "catalog" else
               None if full else CATALOG_SAMPLE)
    out = os.path.join(bb, "runs", f"{a.workload}-{a.seed}-{a.trace}" + ("-all" if full else ""))
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cores = os.cpu_count() or 1
    # -Xmx only: the heap grows as the program needs, so peak RSS follows it
    cmd = ["java", f"-Xmx{HEAP}", "-XX:SharedArchiveFile=" + os.path.join(bb, "classes.jsa"),
           "-Xlog:cds=off", "-Xlog:cds+dynamic=off", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "graft.perfbench.Main", "--workload", a.workload, "--data", data,
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--seed", str(a.seed),
           "--cores", str(cores), *extra]
    if a.workload == "catalog":
        cmd += ["--ops", "all" if full else ",".join(sorted(CATALOG_SAMPLE))]
    deadline = time.time() + (86400 if full else JVM_TIMEOUT_S)

    # set-ups in fresh JVMs, each timed from its launch; the runner's own
    # set-up is the last sample
    setups = []
    for k in range(SETUPS - 1):
        d = os.path.join(out, f"setup-{k}")
        os.makedirs(d)
        code, _ = run_jvm(cmd + ["--setup-only", "1"], d, deadline)
        if code != 0 or not os.path.exists(os.path.join(d, "result.json")):
            return jvm_failed(code, d)
        with open(os.path.join(d, "result.json")) as f:
            setups.append(json.load(f)["setup"])

    def during(proc):
        # the expected catalog outputs are computed while the runner runs
        # its untimed check pass; timing starts once they are done
        exp = expected if a.workload == "qc_session" else expect_catalog(out, data, proc, deadline)
        open(os.path.join(out, "go"), "w").close()
        return exp
    code, expected = run_jvm(cmd, out, deadline, during)
    shutil.rmtree(tmp, ignore_errors=True)
    t_check = time.time()
    result_path = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result_path):
        return jvm_failed(code, out)
    with open(result_path) as f:
        res = json.load(f)
    setups.append(res["setup"])

    try:
        props = properties(a.workload, res, data)
    except SetupError as e:
        print(f"set-up failed: {e}", file=sys.stderr)
        return SETUP_FAIL
    props["input_digest"] = digest

    if a.workload == "qc_session":
        wrong, bad = check_qc(res, expected)
    else:
        if expected is None:  # the runner finished before it was computed
            expected = expect_catalog(out, data, None, time.time())
        wrong, bad = check_catalog(res, out, expected)
    all_ops = [o for p in [res["check"]] + res["passes"] for o in p["ops"]]
    errors = {o["op"]: o["error"] for o in all_ops if o.get("error")}
    attempted = len(all_ops)
    failed = sum(1 for o in all_ops if o.get("error")) + bad
    correct = failed == 0

    untraced = [p for p in res["passes"] if not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]
    if full:
        weights = {n: 1 for n in {o["op"] for o in res["check"]["ops"]}}
    if a.trace:
        metrics = per_layer(res, traced, untraced, setups, props, weights)
    else:
        metrics = end_to_end(res, untraced, setups, weights)
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "properties": props, "contention": res["contention"], "setups": setups,
               "errors": errors, "wrong": wrong, "metrics": metrics,
               "error_rate": failed / attempted,
               "op_p90_s": check.percentile(
                   [o["construct"] + o["plan"] + o["exec"] for p in untraced
                    for o in p["ops"] if not o.get("error")], 0.9),
               "passes": len(res["passes"]), "check_s": res["check_s"],
               "timed_s": res["timed_s"],
               "wall": {"build_and_inputs_s": t_jvm - t_start, "jvms_s": t_check - t_jvm,
                        "check_s": time.time() - t_check}}
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    for k, v in list(errors.items())[:10] + list(wrong.items())[:10]:
        print(f"  {k}: {v}", file=sys.stderr)
    emit(correct, attempted, failed, metrics)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
