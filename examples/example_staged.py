# example_staged.py — Spark equivalent of reference examples/example_staged.py
"""Two-stage evaluation: technical screening eliminates below-threshold bids,
the economic stage ranks the survivors (survivor-only statistics)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bid_evaluation_spark import StagedEvaluator
from bid_evaluation_spark.session import get_spark

spark = get_spark("example-staged", master="local[4]", shuffle_partitions=4)

bids = spark.createDataFrame(
    [("Company A", 50_000_000, 85, 90),
     ("Company B", 45_000_000, 90, 70),
     ("Company C", 52_000_000, 75, 95),
     ("Company D", 48_000_000, 55, 88),
     ("Company E", 46_000_000, 92, 60)],
    "vendor string, bid_amount long, technical_score long, quality long",
)

staged = (
    StagedEvaluator(final_score_mode="weighted_combination")
    .add_stage("Technical", filter_type="score_threshold", threshold=65, weight=0.6)
    .direct("technical_score", 0.7)
    .linear("quality", 0.3)
    .add_stage("Economic", weight=0.4)
    .min_ratio("bid_amount", 1.0)
)

result = staged.evaluate(bids)
result.select(
    "vendor", "eliminated_at_stage",
    F.round("technical_score", 2).alias("tech"),
    F.round("final_score", 2).alias("final_score"), "ranking",
).show()
spark.stop()
