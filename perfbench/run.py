#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program together with the
JVM harness (perfbench/build.sbt, once per source change, with a class-data-sharing
archive recorded by one training run), generates the
workload's inputs from the seed, runs one JVM (local[N], N = CPUs
available), verifies the outputs, and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
A full record (host and configuration stamp, per-operation times) also
goes to perfbench/.work/results/ for compare.py.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
WORK = os.path.join(HERE, ".work")
XMX = "3g"
JAR = os.path.join(HERE, "target", "perfbench.jar")
CDS = os.path.join(WORK, "classes.jsa")
RUN_TIMEOUT_S = 170
# Timed passes per run at the least; wall_s and cpu_s are their medians.
MIN_PASSES = 3

GRAPH_LOOPS = ["q211_sssp_rounds", "q344_mutual_best_matching", "q433_luby_mis"]
BATCH_ANALYTICS = [
    "q01_agg_pricing_summary", "q03_join_shuffle_fact", "q31_text_quality",
    "q79_text_scrub_pii", "q145_bpe_encode", "q38_knn_brute_cosine",
    "q106_tpch_q17_shape", "q114_tpch_q4_shape", "q124_tpch_q6_shape",
    "q50_tpch_q5_shape"]
# workload -> (queries, base data scale, untimed warmup passes);
# ingest_e2e has no registry queries. batch_analytics's passes still get
# faster after one warmup pass (the JIT is still compiling its generated
# code), so it gets two.
WORKLOADS = {
    "ingest_e2e": (None, None, 1),
    "graph_loops": (GRAPH_LOOPS, "sf0.001", 1),
    "batch_analytics": (BATCH_ANALYTICS, "sf0.01", 2),
}
# Where the program keeps on-disk state keyed by its input directory's
# name: staged pair graphs in STAGED_DIR, other intermediates in
# /tmp/graft_<kind>/<name>, row-level tables in /tmp/graft_rl_wh/db/.
# The harness gets these paths in its config, so only this file encodes
# the layout.
STAGED_DIR = "/tmp/graft_edges/{name}"
STATE_GLOBS = ["/tmp/graft_*/{name}", "/tmp/graft_rl_wh/db/*_{name}"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def cpus():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark installation (set SPARK_HOME)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def files_digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build_digest():
    """Keys the jar and the class-data-sharing archive: the sources, the
    build files, the JDK and the Spark jars the archive was recorded on."""
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    jars = sorted(os.listdir(os.path.join(spark_home(), "jars")))
    return files_digest(
        glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
        + glob.glob(os.path.join(HERE, "src/**/*"), recursive=True)
        + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")],
        java + "\n".join(jars))


def reference_digest(build):
    """Keys the verified reference digests: the build plus everything
    that shapes the inputs and their check."""
    return files_digest(
        glob.glob(os.path.join(HERE, "data/**/*"), recursive=True)
        + [os.path.join(HERE, "gen.py"), os.path.join(HERE, "oracle.py")], build)


def build():
    """Packages the program's sources with the harness into one jar, then
    records a class-data-sharing archive of the classes a run loads, so
    every run's JVM maps them instead of parsing and verifying them again.
    Skipped when the sources are unchanged since the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala")):
        fail("program sources (src/main/scala) not found")
    stamp = os.path.join(WORK, "build.stamp")
    digest = build_digest()
    if (os.path.exists(JAR) and os.path.exists(CDS) and os.path.exists(stamp)
            and open(stamp).read() == digest):
        return digest
    for f in (stamp, CDS):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "package"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT).returncode
    if rc != 0 or not os.path.exists(JAR):
        fail(f"build failed (see {os.path.relpath(log, ROOT)})")
    # Training run: one batch_analytics pass on seed 0 with the archive
    # written at JVM exit.
    train_dir = os.path.join(WORK, "train")
    shutil.rmtree(train_dir, ignore_errors=True)
    os.makedirs(train_dir)
    name = input_name("train", 0)
    in_dir = os.path.join(WORK, "in", name)
    generate("batch_analytics", 0, in_dir)
    try:
        run_jvm(dict(state_config(name), workload="batch_analytics", input=in_dir,
                     work=train_dir, cpus=cpus(), seconds=0, warmup_passes=1, min_passes=1,
                     trace=False,
                     verify="",
                     out=os.path.join(train_dir, "report.json"),
                     queries=WORKLOADS["batch_analytics"][0]),
                time.time() + 600, [f"-XX:ArchiveClassesAtExit={CDS}"])
    finally:
        for d in program_state_dirs(name) + [in_dir, train_dir]:
            shutil.rmtree(d, ignore_errors=True)
    if not os.path.exists(CDS):
        fail("class-data-sharing archive was not written")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return digest


def input_name(workload, seed):
    """Input directory name. The program keys its on-disk state by this
    name, so it is unique per checkout, workload and seed."""
    tag = hashlib.sha1(ROOT.encode()).hexdigest()[:8]
    return f"perfbench_{tag}_{workload}_s{seed}"


def generate(workload, seed, in_dir):
    import gen
    shutil.rmtree(in_dir, ignore_errors=True)
    if workload == "ingest_e2e":
        return gen.ingest_inputs(seed, in_dir)
    gen.permute_tables(seed, in_dir, WORKLOADS[workload][1])
    return None


def state_config(name):
    return {"state_globs": [g.format(name=name) for g in STATE_GLOBS],
            "staged_dir": STAGED_DIR.format(name=name)}


def program_state_dirs(name):
    """The program's own /tmp state for this input name."""
    return [d for g in state_config(name)["state_globs"] for d in glob.glob(g)]


def run_jvm(config, deadline, jvm_flags):
    run_dir = config["work"]
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(config, fh)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={run_dir}"] + jvm_flags
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", f"{JAR}:{os.path.join(spark_home(), 'jars')}/*",
              "perfbench.Harness", cfg_path])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM timed out (see {os.path.relpath(log, ROOT)})")
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    if rc != 0 or not os.path.exists(config["out"]):
        fail(f"JVM exited with {rc} (see {os.path.relpath(log, ROOT)})")
    with open(config["out"]) as fh:
        return json.load(fh)


def verify(workload, in_dir, dump_dir, expected, oracle_sql):
    """Checks each operation's warmup result; returns {op: error or ''}."""
    import oracle  # DuckDB and pandas load only when a check runs
    if workload == "ingest_e2e":
        return oracle.check_ingest(dump_dir, expected)
    return oracle.check_registry(in_dir, dump_dir, oracle_sql)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # Termination unwinds normally, so the JVM and program state get cleaned up.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + RUN_TIMEOUT_S
    os.makedirs(WORK, exist_ok=True)
    ref_digest = reference_digest(build())
    deadline = max(deadline, time.time() + RUN_TIMEOUT_S - 20)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    name = input_name(args.workload, args.seed)
    in_dir = os.path.join(WORK, "in", name)

    # Input generation is repeated; setup_s counts its median.
    gen_s = []
    for _ in range(3):
        t0 = time.time()
        expected = generate(args.workload, args.seed, in_dir)
        gen_s.append(time.time() - t0)

    queries = WORKLOADS[args.workload][0]
    # Verified reference digests, per build, workload and seed.
    ref_path = os.path.join(WORK, "ref",
                            f"{args.workload}-s{args.seed}-{ref_digest[:12]}.json")
    reference = json.load(open(ref_path)) if os.path.exists(ref_path) else None
    verify_s = 0.0
    dump_dir = os.path.join(run_dir, "verify")
    config = dict(state_config(name), workload=args.workload, input=in_dir,
                  work=run_dir, cpus=cpus(), seconds=args.seconds,
                  warmup_passes=WORKLOADS[args.workload][2], min_passes=MIN_PASSES,
                  trace=bool(args.trace),
                  out=os.path.join(run_dir, "report.json"),
                  verify="" if reference else dump_dir, queries=queries or [])
    launch = time.time()
    ticks0 = cpu_ticks()
    try:
        report = run_jvm(config, deadline, [f"-XX:SharedArchiveFile={CDS}"])
    finally:
        for d in program_state_dirs(name):
            shutil.rmtree(d, ignore_errors=True)
    jvm_s = time.time() - launch
    ticks1 = cpu_ticks()
    # Share of CPU time the hypervisor gave to other guests while the JVM
    # ran; high values explain slow runs on shared hosts.
    steal = ((ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
             if ticks0 and ticks1 else None)
    setup_s = (median(gen_s) + (report["warm_end_ms"] / 1e3 - launch)
               - report["verify_write_s"])

    warm = report["warm"]
    problems = list(report["checks"])
    if reference is None:
        oracle_sql = {}
        if queries:
            with open(os.path.join(run_dir, "oracle_sql.json")) as fh:
                oracle_sql = json.load(fh)
        t0 = time.time()
        verdict = verify(args.workload, in_dir, dump_dir, expected, oracle_sql)
        verify_s = time.time() - t0
        reference = {}
        for op, o in warm.items():
            err = o["error"] or verdict.get(op, "not verified")
            reference[op] = "" if err else o["digest"]
            if err:
                problems.append(f"{op}: {err}")
        if all(reference.values()):
            os.makedirs(os.path.dirname(ref_path), exist_ok=True)
            with open(ref_path, "w") as fh:
                json.dump(reference, fh)
    shutil.rmtree(in_dir, ignore_errors=True)

    passes = report["passes"]
    attempted = failed = 0
    for p in passes:
        for op, o in p["ops"].items():
            attempted += 1
            if o["error"] or o["digest"] != reference.get(op):
                failed += 1
                problems.append(f"{op}: {o['error'] or 'digest differs from reference'}")
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    e2e = {
        "wall_s": median([p["wall_s"] for p in plain]),
        "cpu_s": median([p["cpu_s"] for p in plain]),
        "setup_s": setup_s,
        "retained_heap_mb": report["retained_heap_mb"],
    }
    layers = {}
    if args.trace:
        layers = dict(report["layers"])
        layers["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - e2e["wall_s"]
    metrics = layers if args.trace else e2e
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    stamp = {"host": platform.node(), "nproc": cpus(), "xmx": XMX,
             "spark": report["versions"]["spark"], "java": report["versions"]["java"],
             "scala": report["versions"]["scala"],
             "shuffle_partitions": report["versions"]["shuffle_partitions"],
             "commit": git_commit(), "seed": args.seed, "workload": args.workload,
             "trace": args.trace, "seconds": args.seconds, "passes": len(passes)}
    record = {"stamp": stamp, "end_to_end": e2e, "layers": layers,
              "attempted": attempted, "failed": failed, "problems": problems,
              "timing": {"gen_s": gen_s, "jvm_s": jvm_s, "verify_s": verify_s,
                         "cpu_steal_share": steal,
                         "verify_write_s": report["verify_write_s"]},
              "op_seconds": {op: [p["ops"][op]["secs"] for p in passes]
                             for op in (passes[0]["ops"] if passes else {})}}
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}-"
                           f"{int(time.time() * 1000)}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": not problems and failed == 0, "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    main()
