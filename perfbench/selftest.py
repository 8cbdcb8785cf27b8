#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of graft):

1. the same seed reproduces byte-identical inputs and another seed does not;
2. every door route the benchmark lists has a template, and in a real run
   the door's route census puts every template on the route it was
   written for;
3. a planted wrong expected answer is caught: the run reports
   ``correct: false`` and failed ops.

    python3 perfbench/selftest.py

Exits non-zero when a test fails. Tests 2 and 3 share one traced door_mix
run (about a minute and a half, plus the build on first use).
"""
import contextlib
import io
import json
import os
import shutil
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

PLANTED = "enum_cmp2"


def main():
    failures = []

    def check(name, ok, detail=""):
        print(f"{'PASS' if ok else 'FAIL'} {name}{': ' + detail if detail else ''}")
        if not ok:
            failures.append(name)

    scratch = os.path.join(HERE, ".work", "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    for w in gen.WORKLOADS:
        digests = []
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(scratch, f"{w}-{tag}")
            gen.generate(w, seed, d)
            digests.append(gen.digest(d))
        check(f"seed reproduces {w} inputs", digests[0] == digests[1])
        check(f"another seed changes {w} inputs", digests[0] != digests[2])
    shutil.rmtree(scratch, ignore_errors=True)

    listed = {r for _, r, _ in gen.door_texts(np.random.default_rng(0))}
    missing = set(gen.DOOR_ROUTES) - listed
    check("every listed door route has a template", not missing, f"missing {sorted(missing)}")

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        # traced, so the run takes the route census
        code = run.main(["--workload", "door_mix", "--seed", "3", "--seconds", "1",
                         "--trace", "1", "--plant-wrong", PLANTED])
    lines = buf.getvalue().splitlines()
    check("planted run completes", code == 0 and lines, f"exit {code}")
    if code == 0 and lines:
        res = json.loads(lines[-1])
        check("planted wrong answer is caught", not res["correct"] and res["failed"] > 0,
              f"correct={res['correct']} failed={res['failed']}/{res['attempted']}")
        saved = json.load(open(os.path.join(HERE, ".work", "door_mix-seed3", "result.json")))
        wrong = [c["name"] for c in saved["census"] if c["route"] != c["expected"]]
        check("census routes match the templates", not wrong, f"off route: {wrong}")
        seen = {c["route"] for c in saved["census"]}
        check("census covers every listed route", set(gen.DOOR_ROUTES) <= seen,
              f"unmeasured: {sorted(set(gen.DOOR_ROUTES) - seen)}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
