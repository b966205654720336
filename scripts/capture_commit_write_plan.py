"""Capture the INTERIOR commit-write plans (fused vs two-step merge
write, and the cluster-binned write) — the declared queries' returned
frames cannot show the staging write's plan, so this script builds the
forms over a real table's merge input shape and writes them to
plans/r{N}/.

Usage::

    python scripts/capture_commit_write_plan.py plans/r12
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from assignment4_spark.operators import lakehouse as lh  # noqa: E402
from assignment4_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_dir = sys.argv[1]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-commit-write", cpus=8)
    # AQE off exactly as the commit write runs (lakehouse._aqe_off_*)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # the merge input shape: base snapshot union update batch, real
    # duplicate keys so latest-wins has work in every group
    df = (
        spark.range(20000)
        .select(
            (F.col("id") % 3000).alias("k"),
            (F.col("id") % 7).alias("ver"),
            F.col("id").alias("tb"),
            (F.col("id") * 2).cast("double").alias("val"),
        )
        .withColumn("bucket", lh._bucket_of("k", 16))
    )

    def fmt(frame):
        return frame._sc._jvm.PythonSQLUtils.explainString(
            frame._jdf.queryExecution(), "formatted"
        )

    w = Window.partitionBy("k").orderBy(F.col("ver").desc(), F.col("tb"))
    two_step = (
        df.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
        .repartition(16, F.col("bucket"))
    )
    fused = lh._route_slots(df, "k", 1, 16, None, 4, ("ver", "tb"))
    # a 4-bin write over 16 buckets: runs the bin-bounds job now
    binned = lh._route_slots(df, "k", 1, 16, "val", 4)
    with open(
        os.path.join(out_dir, "interior_commit_write_before.txt"), "w"
    ) as f:
        f.write(
            "# merge commit write, r11 form: window PARTITION BY key,\n"
            "# then repartition by bucket - TWO Exchanges of the\n"
            "# commit's bytes\n" + fmt(two_step)
        )
    with open(
        os.path.join(out_dir, "interior_commit_write_after.txt"), "w"
    ) as f:
        f.write(
            "# merge commit write, fused form: latest-wins window\n"
            "# PARTITION BY (bucket, task, key) rides the write's own\n"
            "# routed exchange - ONE Exchange (the task-id pass-through\n"
            "# satisfies ClusteredDistribution([bucket, task, key]))\n"
            + fmt(fused)
        )
    with open(
        os.path.join(out_dir, "interior_commit_write_clustered.txt"), "w"
    ) as f:
        f.write(
            "# cluster-binned commit write: each (bucket, bin) slot\n"
            "# routed to one of ~defaultParallelism tasks by id - ONE\n"
            "# Exchange, then a sort by (bucket, cluster col) that the\n"
            "# partitionBy(bucket) sink reuses\n" + fmt(binned)
        )
    print("captured interior commit write plans", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
