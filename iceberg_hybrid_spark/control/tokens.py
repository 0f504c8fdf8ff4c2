"""Consistency tokens — ≙ ConsistencyToken + ConsistencyPort.

One watermark row per table (legacy ConsistencyToken.java:26:
highWatermarkTs, lastAppliedSequence, inventoryVersion), persisted as a
single-row-per-table upsert; the router compares requested commit
timestamps against it (MEET_WATERMARK routing).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as SPARK_T

from ..session import local_frame


@dataclass(frozen=True)
class ConsistencyToken:
    table: str
    high_watermark_ts_ms: int
    last_applied_sequence: int
    inventory_version: str = ""


class TokenStore:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tokens: dict[str, ConsistencyToken] = {}

    def save_token(self, token: ConsistencyToken) -> None:
        cur = self._tokens.get(token.table)
        if cur and token.last_applied_sequence < cur.last_applied_sequence:
            raise ValueError(
                f"watermark regression for {token.table}: "
                f"{token.last_applied_sequence} < {cur.last_applied_sequence}"
            )
        self._tokens[token.table] = token

    def load_token(self, table: str) -> ConsistencyToken | None:
        return self._tokens.get(table)

    _SCHEMA = SPARK_T.StructType([
        SPARK_T.StructField("table_name", SPARK_T.StringType()),
        SPARK_T.StructField("high_watermark_ts_ms", SPARK_T.LongType()),
        SPARK_T.StructField("last_applied_sequence", SPARK_T.LongType()),
        SPARK_T.StructField("inventory_version", SPARK_T.StringType()),
    ])

    def tokens_df(self) -> DataFrame:
        rows = [
            (t.table, t.high_watermark_ts_ms, t.last_applied_sequence, t.inventory_version)
            for t in self._tokens.values()
        ]
        return local_frame(self.spark, rows, self._SCHEMA)
