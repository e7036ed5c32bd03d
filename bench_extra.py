#!/usr/bin/env python
"""Selective per-query benchmark + plan capture (round-8 optimization).

`bench.py` is the FROZEN driver harness; this file is the working
instrument: time any subset of catalog queries at any SF with repeats,
optionally through the noop sink (guide §1.4) and/or dumping
`.explain("formatted")` to a directory (plans/r08/). Prints one JSON
line per invocation; never used by the driver.

Usage:
  SPARK_GRAFT_CPUS=32 python bench_extra.py --sf-dir /root/testdata/sf1.0 \
      --queries dedup_minhash_md5_pairs,multimodal_decode_jpeg --repeats 3 \
      [--noop] [--explain plans/r08 --suffix _before]
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", required=True, help="comma-separated catalog names")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--noop", action="store_true", help="materialize via noop sink instead of count()")
    ap.add_argument("--explain", default=None, help="directory for explain('formatted') dumps")
    ap.add_argument("--suffix", default="", help="suffix for explain files, e.g. _before")
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    from rdf_to_text_spark.session import get_spark
    from rdf_to_text_spark import queries_catalog
    from pyspark.sql import functions as F

    spark = get_spark(app_name="bench_extra", master=f"local[{cpus}]")
    spark.range(100000).groupBy(F.col("id") % 7).count().collect()
    spark.sql("SELECT id, row_number() OVER (ORDER BY id) FROM range(1000)").collect()

    cat = queries_catalog.all_queries()
    names = [n for n in args.queries.split(",") if n]
    out: dict[str, object] = {}
    for name in names:
        if name not in cat:
            out[name] = "MISSING"
            continue
        runs = []
        for rep in range(args.repeats):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            df = cat[name](spark, args.sf_dir)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            runs.append(round(time.time() - t0, 3))
            if args.explain and rep == 0:
                os.makedirs(args.explain, exist_ok=True)
                with open(os.path.join(args.explain, f"{name}{args.suffix}.txt"), "w") as fh:
                    fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
            queries_catalog.release_caches()
        out[name] = runs
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"sf_dir": args.sf_dir, "noop": args.noop, "runs": out}))
    spark.stop()


if __name__ == "__main__":
    main()
