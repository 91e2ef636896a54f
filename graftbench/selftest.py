"""Self-test of the input generator: the same seed gives byte-identical
inputs, and a different seed gives different ones.

    python3 graftbench/selftest.py

Exits nonzero on any mismatch.
"""

import filecmp
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


def same(a, b):
    fa, fb = files(a), files(b)
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                            for f in fa)


def main():
    work = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")
    os.makedirs(work, exist_ok=True)
    base = tempfile.mkdtemp(prefix="selftest-", dir=work)
    try:
        runs = {}
        for name, seed in [("a", 7), ("b", 7), ("c", 8)]:
            runs[name] = os.path.join(base, name)
            gen.generate(seed, runs[name])
        ok = True
        if not same(runs["a"], runs["b"]):
            print("FAIL: seed 7 twice gave different inputs")
            ok = False
        if any(filecmp.cmp(os.path.join(runs["a"], f), os.path.join(runs["c"], f), shallow=False)
               for f in files(runs["a"])):
            print("FAIL: seeds 7 and 8 gave an identical input file")
            ok = False
        print(f"{'OK' if ok else 'FAILED'}: {len(files(runs['a']))} input files per seed")
        return 0 if ok else 1
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
