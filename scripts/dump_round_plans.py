#!/usr/bin/env python
"""Dump .explain("formatted") for every bench-timed query (plus the
reference-shaped e2e sub-frames) to plans/<round>/<name>_<tag>.txt.

Usage: python scripts/dump_round_plans.py <round> before|after [name ...]
  e.g. python scripts/dump_round_plans.py r13 before

An optimization round's plan record: the plan claims in
OPTIMIZATION_<round>.md are checked against these files. Uses the same
session factory as bench.py so plan shapes match what the bench
executes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        raise SystemExit(__doc__)
    rnd, tag = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    out_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)

    from validation_database_spark.session import get_spark
    from validation_database_spark.suite import all_specs, unit_specs
    from validation_database_spark.util import release_pins

    spark = get_spark(app_name=f"dump_{rnd}_plans")
    specs = all_specs()
    specs.update({n: s for n, s in unit_specs().items() if s.headline})

    from bench import HEADLINE

    extra = [n for n in specs if n not in HEADLINE and specs[n].headline]
    names = HEADLINE + extra
    if only:
        names = [n for n in names if n in only]

    import contextlib
    import io

    for name in names:
        df = specs[name].spark_fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        release_pins()
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
