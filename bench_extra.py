#!/usr/bin/env python
"""Round-6 measurement sidecar (bench.py is FROZEN for the driver;
extra benchmarks live here per the optimization-round contract).

Times individual catalog queries, with per-query job descriptions
(guide §1.5).  By default each query is materialized with .count(), as
bench.py does; BENCH_EXTRA_MODE=noop writes to the noop sink instead
(guide §1.4), isolating the computation from the .count() short-circuit
and from sink cost.  Prints one JSON line per query plus a total.

Usage:
  python bench_extra.py q1,q2,...        # .count(), single session
  BENCH_EXTRA_MODE=noop python bench_extra.py q1,...    # noop sink
  BENCH_EXTRA_REPEAT=N   repeat each query N times (all samples shown)
  SPARK_GRAFT_SF_DIR     data dir (default /root/testdata/sf0.1)

Queries run in CATALOG order (same as bench.py) regardless of the order
given, so cross-query cached-subtree reuse behaves as in the real bench.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spellchecker_wasm_spark.session import get_spark  # noqa: E402


def main() -> None:
    want = sys.argv[1].split(",") if len(sys.argv) > 1 else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mode = os.environ.get("BENCH_EXTRA_MODE", "count")
    repeat = int(os.environ.get("BENCH_EXTRA_REPEAT", "1"))
    spark = get_spark(app_name="bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    from spellchecker_wasm_spark.queries import CATALOG
    names = [n for n in CATALOG if want is None or n in want]
    total = 0.0
    out = {}
    for name in names:
        fn, _ = CATALOG[name]
        samples = []
        for i in range(repeat):
            spark.sparkContext.setJobDescription(f"{name}[{i}]")
            t0 = time.time()
            df = fn(spark, sf_dir)
            if mode == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            samples.append(round(time.time() - t0, 3))
        out[name] = samples
        total += samples[0]
        print(json.dumps({"query": name, "sec": samples}), flush=True)
    print(json.dumps({"metric": "bench_extra_total_first_sample",
                      "value": round(total, 3), "mode": mode,
                      "sf": os.path.basename(sf_dir.rstrip("/")),
                      "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
