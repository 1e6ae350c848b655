"""Benchmark entry point: build, generate seeded inputs, run one workload.

    python3 perfbench/run.py --workload customs_daily --seed 7 --seconds 20 --trace 0

Workloads (see perfbench/NOTES.md): customs_daily, llm_session. With
--trace 0 the last stdout line is the end-to-end result JSON; with
--trace 1 the run is the traced one and reports the per-layer metrics
(spans go to .bench_build/traces/). Everything is built and written under
.bench_build/ in the checkout.

    python3 perfbench/run.py --record

re-records perfbench/expected_llm.tsv (each llm_mix query's row count and
result hash on every input variant) from the current code.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the benchmark directory free of caches
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = build.OUT
WORKLOADS = ("customs_daily", "llm_session")
LLM_SCALE = "0.02"  # scale factor of the llm tables; see NOTES.md for why not 0.1
LLM_VARIANTS = 4    # llm inputs: variant = seed mod 4, each with recorded outputs
EXPECTED_LLM = os.path.join(HERE, "expected_llm.tsv")
JVM_TIMEOUT_S = 170  # a run must end within 180 s
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def cpus():
    return len(os.sched_getaffinity(0))


def java(classpath, args, tmp, stdout, stderr, timeout):
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}"] +
           [f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS] +
           ["-cp", classpath, "perfbench.Main"] + args)
    os.makedirs(tmp, exist_ok=True)
    return subprocess.run(cmd, stdout=stdout, stderr=stderr, timeout=timeout, text=True)


def source_tag(path):
    """Short hash of a generator's source, so cached inputs follow it."""
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:10]


def cached(path, make):
    """Generate into `path` once; a partial directory is never reused."""
    if not os.path.isdir(path):
        part = path + ".part"
        shutil.rmtree(part, ignore_errors=True)
        make(part)
        os.rename(part, path)
    return path


def llm_data(variant):
    tag = source_tag(os.path.join(HERE, "gen_llm.py"))
    path = os.path.join(OUT, "data", f"llm-{LLM_SCALE}-v{variant}-{tag}")
    return cached(path, lambda p: subprocess.run(
        [sys.executable, os.path.join(HERE, "gen_llm.py"), "--seed", str(variant),
         "--scale", LLM_SCALE, "--out", p], check=True))


def customs_data(classpath, seed):
    tag = source_tag(os.path.join(HERE, "src", "perfbench", "CustomsGen.scala"))
    path = os.path.join(OUT, "data", f"customs-{seed}-{tag}")
    tmp = os.path.join(OUT, "tmp-gen")

    def make(p):
        java(classpath, ["gen-customs", str(seed), p], tmp, sys.stderr, sys.stderr, 120)
        shutil.rmtree(tmp, ignore_errors=True)
    return cached(path, make)


def run(a, classpath):
    variant = a.seed % LLM_VARIANTS
    work = os.path.join(OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    opts = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
            "cpus": cpus(), "work": work}
    if a.workload == "llm_session" or a.trace:
        opts.update(llm=llm_data(variant), scale=LLM_SCALE, variant=variant,
                    expected=EXPECTED_LLM)
    if a.workload == "customs_daily" or a.trace:
        opts["customs"] = customs_data(classpath, a.seed)
    if a.trace:
        traces = os.path.join(OUT, "traces")
        os.makedirs(traces, exist_ok=True)
        opts["spans"] = os.path.join(traces, f"{a.workload}-{a.seed}.jsonl")
    log = os.path.join(OUT, "logs", f"{a.workload}-{a.seed}-t{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    try:
        with open(log, "w") as err:
            p = java(classpath, ["run"] + [f"{k}={v}" for k, v in opts.items()],
                     os.path.join(work, "tmp"), subprocess.PIPE, err, JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        # subprocess.run has killed and reaped the JVM
        sys.stderr.write(open(log).read()[-4000:])
        sys.exit(f"benchmark JVM still running after {JVM_TIMEOUT_S} s, killed; "
                 f"no result; log: {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(open(log).read()[-4000:])
        sys.exit(f"benchmark JVM failed (exit {p.returncode}); log: {log}")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    print(json.dumps(result))


def record(classpath):
    """Run llm_mix twice per JVM at the local core count and at half of
    it, on every variant, and write the row count and hash per query. A
    hash is kept only when both passes agree; `any_cores` says it also
    held at the other core count."""
    n = cpus()
    lines = []
    for v in range(LLM_VARIANTS):
        data = llm_data(v)
        per_cpus = {}
        for c in (n, max(1, n // 2)):
            tmp = os.path.join(OUT, "work", f"record-{v}-{c}")
            p = java(classpath, ["record-llm", data, str(c), "2"], tmp,
                     subprocess.PIPE, sys.stderr, 900)
            shutil.rmtree(tmp, ignore_errors=True)
            p.check_returncode()
            per_cpus[c] = {f[0]: f[1:4] for f in
                           (l.split("\t") for l in p.stdout.strip().splitlines())}
        for q, (rows, h1, h2) in per_cpus[n].items():
            stable = h1 == h2
            other = per_cpus[max(1, n // 2)][q]
            if other[0] != rows:
                sys.exit(f"{q}: {rows} rows at {n} cores, {other[0]} at {n // 2}")
            any_cores = stable and other[1] == other[2] == h1
            lines.append("\t".join([LLM_SCALE, str(v), q, rows, h1 if stable else "",
                                    str(n), "1" if any_cores else "0"]))
    with open(EXPECTED_LLM, "w") as f:
        f.write("\n".join(lines) + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    try:
        classpath = build.build()
    except (RuntimeError, OSError, subprocess.CalledProcessError) as e:
        sys.exit(f"build failed: {e}")
    if a.record:
        record(classpath)
    elif a.workload:
        run(a, classpath)
    else:
        ap.error("--workload or --record is required")


if __name__ == "__main__":
    main()
