"""Dump ``explain("formatted")`` for named suite queries to plans/r<round>/.

An optimization round's evidence trail: before touching a query, run

    python tools/dump_plans.py <round> before q1 q2 ...

and after the change

    python tools/dump_plans.py <round> after q1 q2 ...

Each query writes ``plans/r<round>/<query>_<tag>.txt``. Runs at sf0.1 (the
bench scale; ``SPARK_GRAFT_SF_DIR`` overrides it) on the bench session
config, so the plans are the ones the bench times.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR  # the bench's scale, so the plans are the timed ones
from vector_db_api_spark import suite
from vector_db_api_spark.session import get_spark


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().rstrip() + "\n"


def main() -> None:
    args = sys.argv[1:]
    if len(args) < 2 or not args[0].isdigit() or args[1] not in (
            "before", "after"):
        sys.exit(__doc__)
    rnd, tag, *names = args
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(here, "plans", f"r{rnd}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"r{rnd}-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = suite.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(formatted(df))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
