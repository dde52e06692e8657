"""User-facing facade — the one-import surface a reference user
switches to.

The reference's workflow (readme.md:5-16) is: ingest tweets/users/
projects → preprocess + score → detect KOLs → aggregate engagement →
serve top-K/histograms/time-series. ``Engine`` exposes that workflow
(``kols``, ``engagement_log``) plus the named-query catalog, which
carries every other capability; each method returns a lazy DataFrame
the caller composes further.

    from bigdata_project_hust_spark.api import Engine
    eng = Engine(spark, "/root/testdata/sf0.1")
    eng.kols().show()                          # scored + thresholded users
    eng.query("dedup_minhash_lsh").show()      # any registered query
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .io import load_table
from .operators.projections import KOL_THRESHOLD, kol_filter
from .plans.queries import QUERIES


class Engine:
    """Thin, stateless facade; every method is lazy (returns a
    DataFrame) and reads from the engine's fixture directory. For
    anything beyond the reference workflow use :meth:`query` — one
    entry per SURVEY §2 operator / extension (COVERAGE.md)."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    # -- catalog ----------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name)

    def query(self, name: str) -> DataFrame:
        """Run any registered query by name (see COVERAGE.md)."""
        return QUERIES[name].fn(self.spark, self.sf_dir)

    def query_names(self) -> list[str]:
        return list(QUERIES)

    # -- reference workflow -----------------------------------------
    def kols(self, threshold: float = KOL_THRESHOLD) -> DataFrame:
        """Scored users above the influence threshold (F1 + P2)."""
        from .plans.queries import _customer_scored
        return kol_filter(_customer_scored(self.spark, self.sf_dir),
                          threshold)

    def engagement_log(self, window_s: int = 600) -> DataFrame:
        """Per-user map<window_ts → [metrics]> (ST7 sink shape)."""
        from .operators.windows import engagement_change_log
        return engagement_change_log(self.table("events"), "ts",
                                     "user_id", window_s, ["value"])
