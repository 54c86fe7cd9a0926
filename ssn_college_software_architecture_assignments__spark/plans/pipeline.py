"""The E->T->L pipeline abstraction (SURVEY.md §3).

The reference prescribes one connector = one script with three stages
(/root/reference/README.md:20-23,62,73-84). Here a connector is a
declarative ``Pipeline``: a source (any DataFrame-producing callable), a
chain of transforms (DataFrame -> DataFrame), and an audited, validated
sink. The pipeline object builds ONE lazy logical plan — Catalyst sees
extract, transform and load together and optimizes across them (filter
pushdown into the source, pruned columns never fetched).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..scratch import scratch_dir
from ..sources.sink import InsertReport, validated_insert

Transform = Callable[[DataFrame], DataFrame]


@dataclass
class Pipeline:
    """A declarative connector: extract -> transform* -> load.

    >>> pipe = (Pipeline(name="items", source=read_items)
    ...         .transform(drop_empty)
    ...         .transform(sanitize_fields))
    >>> report = pipe.run(spark, base_dir="/data/lake")   # -> items_raw
    """

    name: str
    source: Callable[[SparkSession], DataFrame]
    transforms: list[Transform] = field(default_factory=list)

    def transform(self, fn: Transform) -> "Pipeline":
        self.transforms.append(fn)
        return self

    def dataframe(self, spark: SparkSession) -> DataFrame:
        """The composed lazy plan (no execution)."""
        df = self.source(spark)
        for fn in self.transforms:
            df = fn(df)
        return df

    def run(
        self, spark: SparkSession, base_dir: str, mode: str = "append"
    ) -> InsertReport:
        """Execute extract->transform->load with insert validation
        (README.md:33,106) into ``<name>_raw`` (README.md:27)."""
        return validated_insert(self.dataframe(spark), self.name, base_dir, mode)


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """Physical-plan text (for plan assertions in tests/benchmarks)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


# E1 — the reference's whole program as ONE registry query -----------------------

_E1_ORACLE = """
SELECT doc_id,
       lower(lang) AS lang_norm,
       n_chars
FROM documents
WHERE doc_id < 200 AND text IS NOT NULL AND length(trim(text)) > 0
"""


def _register_e1() -> None:
    from pyspark.sql import functions as F

    from ..registry import register

    @register("e1_etl_connector", oracle=_E1_ORACLE, tags=("E1", "S1", "S7", "S8"))
    def e1_etl_connector(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The reference's complete connector contract in one query
        (/root/reference/README.md:20-23,62): Extract a paginated mock
        REST API through the ``restapi`` DataSource, Transform (drop
        empty text, normalize fields), Load through the audited +
        batch-validated sink, then read the ``<name>_raw`` table back.
        The insert-consistency report is asserted inline and the
        read-back declares the schema the load wrote; the oracle replays
        the same E->T->L on the source table."""
        from ..catalog import Catalog
        from ..sources.mock_api import MockApiServer
        from ..sources.rest import read_rest

        docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") < 200)
        records = [
            {
                "doc_id": r["doc_id"],
                "text": r["text"],
                "lang": r["lang"],
                "n_chars": r["n_chars"],
            }
            for r in docs.select("doc_id", "text", "lang", "n_chars")
            .toLocalIterator()
        ]
        base = scratch_dir(prefix="ssn_e1_connector_")
        with MockApiServer(records) as server:
            pipe = Pipeline(
                name="docs_api",
                source=lambda s: read_rest(
                    s,
                    server.base_url,
                    "documents",
                    schema="doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT",
                    page_size=100,
                ),
            ).transform(
                lambda df: df.filter(
                    F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
                )
            ).transform(
                lambda df: df.select(
                    "doc_id",
                    F.lower("lang").alias("lang_norm"),
                    "n_chars",
                )
            )
            report = pipe.run(spark, base_dir=base, mode="overwrite")
        if not report.consistent:
            raise AssertionError(
                f"insert validation failed: {report.n_transformed} transformed "
                f"!= {report.n_written} written"
            )
        back = spark.read.schema(report.schema).parquet(report.path)
        return back.select("doc_id", "lang_norm", "n_chars")


_register_e1()
