#!/usr/bin/env python3
"""Benchmark of the billing job and of fully produced analytics queries.

Usage (from the repository root):

  python3 perfbench/run.py --workload billing_month|billing_dump_skewed|analytics_mix
                           --seed N --seconds S --trace 0|1

Builds the program and the harness from source (cached in the build
directory), generates the workload's inputs from the seed (cached by seed
and size), runs one JVM that times the workload, checks every output
against an independent computation, and prints one JSON object as the last
line of standard output. With --trace 0 it carries the end-to-end metrics,
with --trace 1 the per-layer metrics of a traced run.

The build directory is $CARGO_TARGET_DIR, else .bench_build.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

# Inputs per workload. Sizes are chosen so that one run of every workload
# fits the benchmark's time budget on a 4-core host.
NOVA = {
    "billing_month": dict(format="tsv", instances=20_000, actions=400_000,
                          projects=500, gpu_every=7, deleted_frac=0.10,
                          zipf=None, outages=2, include_stopped=False),
    "billing_dump_skewed": dict(format="dump", instances=6_000, actions=120_000,
                                projects=200, gpu_every=7, deleted_frac=0.10,
                                zipf=1.2, outages=24, include_stopped=True),
}
ANALYTICS_SCALE = 0.5
ANALYTICS_QUERIES = [
    "layout_hilbert", "ts_theil_sen", "a19_bootstrap_ci", "eval_bleu",
    "ret_metrics_pq", "sim_recall_pq", "dedup_setjoin_exact", "graph_pagerank",
]
WORKLOADS = list(NOVA) + ["analytics_mix"]

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# a run must end within 180 s once the program is built
RUN_BUDGET_S = 165


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_checked(cmd, cwd, timeout, env=None):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise RuntimeError(f"timed out after {timeout}s: {' '.join(cmd[:3])}")
    return p.returncode, out


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")]
    for r in roots:
        for d, dirs, files in sorted(os.walk(r)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile the program and the harness; return the runtime classpath."""
    stamp_file = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    target = os.path.join(build_dir, "harness-target")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    default_opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        default_opts = (f"-Dsbt.override.build.repos=true "
                        f"-Dsbt.repository.config={repos} " + default_opts)
    env.setdefault("SBT_OPTS", default_opts)
    # no JVM perf-data files in the system temp directory
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's own state (global base, boot lock, temp files) stays in the
    # build directory; the toolchain's caches are only read
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}",
           "-Dsbt.boot.lock=false", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
           "-J-XX:-UsePerfData", f"-Dperfbench.target={target}",
           "compile", "export Runtime/fullClasspath"]
    log("building program and harness (sbt)")
    t0 = time.time()
    code, out = run_checked(cmd, os.path.join(HERE, "harness"), 850, env)
    if code != 0:
        sys.stderr.write(out[-4000:])
        raise RuntimeError(f"build failed with exit code {code}")
    cp = [l for l in out.splitlines() if target in l and ".jar" in l and not l.startswith("[")]
    if not cp:
        sys.stderr.write(out[-4000:])
        raise RuntimeError("build printed no classpath")
    log(f"built in {time.time() - t0:.0f}s")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def heap():
    """Half of RAM, at most 2 GiB, at least 1 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        kb = 8 << 20
    return f"{max(1024, min(2048, kb // 2048))}m"


def java_cmd(cp, main, tmp):
    return (["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false"]
            + [x for o in JVM_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
            + ["-cp", cp, main])


def tsv_to_parquet(src, dst):
    """The generated Nova tables as parquet, one file per table, with
    naive-UTC timestamps like a Nova export."""
    import pyarrow as pa
    import pyarrow.csv as pcsv
    import pyarrow.parquet as pq
    ts = pa.timestamp("us")
    types = {
        "instances": {"uuid": pa.string(), "hostname": pa.string(),
                      "instance_type_id": pa.int64(), "memory_mb": pa.int64(),
                      "vcpus": pa.int32(), "deleted_at": ts, "deleted": pa.int32(),
                      "project_id": pa.string()},
        "instance_extra": {"instance_uuid": pa.string(), "pci_requests": pa.string()},
        "instance_actions": {"id": pa.int64(), "instance_uuid": pa.string(),
                             "created_at": ts, "action": pa.string(), "message": pa.string()},
    }
    for name, cols in types.items():
        path = os.path.join(src, f"{name}.tsv")
        t = pcsv.read_csv(
            path, parse_options=pcsv.ParseOptions(delimiter="\t", quote_char=False),
            convert_options=pcsv.ConvertOptions(
                column_types=cols, null_values=["\\N"], strings_can_be_null=True,
                quoted_strings_can_be_null=False))
        os.makedirs(os.path.join(dst, f"{name}.parquet"), exist_ok=True)
        pq.write_table(t.select(list(cols)),
                       os.path.join(dst, f"{name}.parquet", "part-00000.parquet"))
        os.remove(path)


def ensure_inputs(workload, seed, cp, build_dir, deadline):
    """Generate (once per seed, size and generator source) and return the
    input directory."""
    h = hashlib.sha256(json.dumps([NOVA.get(workload), ANALYTICS_SCALE]).encode())
    with open(os.path.join(build_dir, "build.stamp")) as f:
        h.update(f.read().encode())
    with open(os.path.join(HERE, "gen_analytics.py"), "rb") as f:
        h.update(f.read())
    out = os.path.join(build_dir, "data", f"{workload}-s{seed}-{h.hexdigest()[:10]}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    if workload in NOVA:
        spec = NOVA[workload]
        args = ["--seed", str(seed), "--out", out,
                "--format", spec["format"], "--instances", str(spec["instances"]),
                "--actions", str(spec["actions"]), "--projects", str(spec["projects"]),
                "--gpu-every", str(spec["gpu_every"]),
                "--deleted-frac", str(spec["deleted_frac"]), "--outages", str(spec["outages"])]
        if spec["zipf"]:
            args += ["--zipf", str(spec["zipf"])]
        if spec["include_stopped"]:
            args += ["--include-stopped"]
        code, text = run_checked(
            java_cmd(cp, "perfbench.Generate", os.path.join(build_dir, "tmp")) + args,
            ROOT, deadline - time.time())
        if code != 0:
            sys.stderr.write(text[-4000:])
            raise RuntimeError(f"input generation failed with exit code {code}")
        if spec["format"] == "tsv":
            tsv_to_parquet(out, os.path.join(out, "nova"))
    else:
        import gen_analytics
        gen_analytics.generate(out, seed, ANALYTICS_SCALE)
    with open(os.path.join(out, "DONE"), "w") as f:
        f.write("ok\n")
    log(f"generated {workload} inputs for seed {seed} in {time.time() - t0:.1f}s")
    return out


def input_rows(workload, data):
    if workload in NOVA:
        with open(os.path.join(data, "meta.properties")) as f:
            props = dict(l.strip().split("=", 1) for l in f if "=" in l and not l.startswith("#"))
        return int(props["rows"])
    with open(os.path.join(data, "meta.json")) as f:
        return sum(json.load(f)["rows"].values())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "Main.scala")):
        log("program sources not found next to the benchmark; nothing to measure")
        return 2
    os.chdir(ROOT)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build(build_dir)
    deadline = time.time() + RUN_BUDGET_S
    data = ensure_inputs(a.workload, a.seed, cp, build_dir, deadline)

    work = os.path.join(build_dir, f"run-{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        cpus = str(os.cpu_count() or 4)
        try:
            cpus = subprocess.run(["nproc"], capture_output=True, text=True).stdout.strip() or cpus
        except OSError:
            pass
        traces = os.path.join(build_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        spans = os.path.join(traces, f"{a.workload}-s{a.seed}-{os.getpid()}.jsonl")
        args = ["--workload", a.workload, "--data", data, "--work", work, "--spans", spans,
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", cpus,
                "--rows", str(input_rows(a.workload, data)),
                "--queries", ",".join(ANALYTICS_QUERIES)]
        # leave time for the oracle check after the harness
        code, out = run_checked(java_cmd(cp, "perfbench.Harness", tmp) + args, ROOT,
                                deadline - 15 - time.time())
        lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        for l in out.splitlines():
            if not l.startswith("PERFBENCH_RESULT "):
                print(l, file=sys.stderr)
        if code != 0 or not lines:
            log(f"harness exited with code {code} and no result")
            return 1
        res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "analytics_mix":
            import gen_analytics
            with open(os.path.join(work, "oracle.json")) as f:
                oracle = json.load(f)
            t0 = time.time()
            problems = gen_analytics.check(data, os.path.join(work, "results"), oracle)
            log(f"oracle check took {time.time() - t0:.1f}s")
            per_query = attempted // len(ANALYTICS_QUERIES)
            for q, why in sorted(problems.items()):
                log(f"check failed: {q}: {why}")
                # every execution of a wrong query is a wrong job, except the
                # ones already counted as failed executions
                if q not in oracle["broken"]:
                    failed += per_query
            res["detail"]["check_problems"] = problems
    finally:
        shutil.rmtree(work, ignore_errors=True)

    detail = res.get("detail", {})
    failed_frac = failed / max(1, attempted)
    metrics = res["metrics"]
    shown = ", ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items())
    print(f"# {a.workload} seed={a.seed} trace={a.trace}: {shown}, "
          f"failed_frac={failed_frac:.6g} ({failed}/{attempted})")
    print("# detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
