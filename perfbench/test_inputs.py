"""Checks that the benchmark's inputs are a function of the seed: the same
seed gives byte-identical files, another seed gives different ones. Covers
both generators (customs_daily and llm_session).

Usage: python3 perfbench/test_inputs.py   (exit code 0 when it holds)
"""
import filecmp
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def tree(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = p
    return out


def same(a, b):
    ta, tb = tree(a), tree(b)
    return ta.keys() == tb.keys() and all(
        filecmp.cmp(ta[k], tb[k], shallow=False) for k in ta)


def main():
    classpath = build.build()
    base = os.path.join(build.OUT, "test-inputs")
    shutil.rmtree(base, ignore_errors=True)
    gens = {
        "customs": lambda seed, out: run.java(
            classpath, ["gen-customs", str(seed), out], os.path.join(base, "tmp"),
            sys.stderr, sys.stderr, 120).check_returncode(),
        "llm": lambda seed, out: subprocess.run(
            [sys.executable, os.path.join(run.HERE, "gen_llm.py"), "--seed", str(seed),
             "--scale", "0.01", "--out", out], check=True),
    }
    failures = []
    for name, gen in gens.items():
        dirs = {k: os.path.join(base, f"{name}-{k}") for k in ("a", "b", "c")}
        gen(11, dirs["a"])
        gen(11, dirs["b"])
        gen(12, dirs["c"])
        if not tree(dirs["a"]):
            failures.append(f"{name}: generator wrote nothing")
        if not same(dirs["a"], dirs["b"]):
            failures.append(f"{name}: one seed gave different bytes")
        if same(dirs["a"], dirs["c"]):
            failures.append(f"{name}: two seeds gave the same bytes")
    shutil.rmtree(base, ignore_errors=True)
    for f in failures:
        print("FAIL", f)
    print("ok" if not failures else f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
