"""Engine facade: the one-object API a reference user migrates to.

One handle over the session, the fixture catalog and the query registry,
so every registry query runs through one entry point. The reference's
producer surface (the KinesisQueue Enqueue / Flush / Send interface of
its main.go) lives in ``sink.kinesis`` (``write_batch_to_kinesis``,
``kinesis_stream_writer``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from streamsurfer_spark.session import DEFAULT_SF_DIR, get_spark, load_tables, table


class Engine:
    """Session + catalog + query registry in one handle.

    >>> eng = Engine(sf_dir="/root/testdata/sf0.001")
    >>> eng.sql("SELECT count(*) AS n FROM lineitem").first().n
    6000
    """

    def __init__(
        self,
        spark: SparkSession | None = None,
        sf_dir: str = DEFAULT_SF_DIR,
        app_name: str = "streamsurfer-engine",
    ) -> None:
        self.spark = spark or get_spark(app_name)
        self.sf_dir = sf_dir
        self._views_loaded = False

    # --- catalog -------------------------------------------------------------

    def table(self, name: str) -> DataFrame:
        return table(self.spark, self.sf_dir, name)

    def sql(self, query: str) -> DataFrame:
        """Run SQL against the fixture tables (views registered lazily)."""
        if not self._views_loaded:
            load_tables(self.spark, self.sf_dir)
            self._views_loaded = True
        return self.spark.sql(query)

    # --- declared queries ----------------------------------------------------

    def query(self, name: str) -> DataFrame:
        """Run a registry query by name (see queries/__init__.registry)."""
        from streamsurfer_spark.queries import registry

        return registry()[name].spark(self.spark, self.sf_dir)

    def query_names(self) -> list[str]:
        from streamsurfer_spark.queries import registry

        return sorted(registry())
