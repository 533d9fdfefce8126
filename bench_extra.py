#!/usr/bin/env python
"""Per-query isolation harness (guide §1.4) — NOT the driver bench.

Times individual declared queries with the noop sink (computation only, no
collect/driver transfer), captures .explain("formatted") to a file, and can
run a query several times. Usage:

    python bench_extra.py <query> [<query> ...] [--reps N] [--plandir DIR]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
Prints one JSON line {"query": {"secs": [..], "min": s}}.
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = 2
    plandir = None
    argv = sys.argv[1:]
    for i, a in enumerate(argv):
        if a == "--reps":
            reps = int(argv[i + 1])
            args.remove(argv[i + 1])
        elif a == "--plandir":
            plandir = argv[i + 1]
            args.remove(argv[i + 1])

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))

    from engine import registry
    from engine.packaging import ensure_workers_can_import
    from engine.session import get_spark

    spark = get_spark("bench_extra", cpus=cpus)
    ensure_workers_can_import(spark)
    qs = registry.queries()
    out: dict[str, dict] = {}
    for name in args:
        secs = []
        for r in range(reps):
            registry._SHARED.clear()  # every shared frame kind starts cold
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            secs.append(round(time.perf_counter() - t0, 3))
            if plandir and r == 0:
                os.makedirs(plandir, exist_ok=True)
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                with open(os.path.join(plandir, f"{name}.txt"), "w") as f:
                    f.write(buf.getvalue())
        out[name] = {"secs": secs, "min": min(secs)}
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
