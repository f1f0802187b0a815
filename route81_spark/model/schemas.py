"""Schemas of SURVEY §1: the change events (F1) the producer reads, and
the oplog timestamp type they share with the envelope (F3), whose
schemas and codec live in route81_spark.envelope."""

from __future__ import annotations

from pyspark.sql import types as T

TS_TYPE = T.StructType([T.StructField("t", T.LongType()), T.StructField("i", T.LongType())])

UPDATE_DESCRIPTION_TYPE = T.StructType(
    [
        T.StructField("updatedFields", T.MapType(T.StringType(), T.StringType())),
        T.StructField("removedFields", T.ArrayType(T.StringType())),
    ]
)


def change_event_schema(doc_schema: T.StructType) -> T.StructType:
    """FIXTURES.md F1: the MongoDB change-event shape the indirect
    pipelines run against (README.md:291-304)."""
    return T.StructType(
        [
            T.StructField("operationType", T.StringType()),
            T.StructField("clusterTime", TS_TYPE),
            T.StructField(
                "ns",
                T.StructType(
                    [T.StructField("db", T.StringType()), T.StructField("coll", T.StringType())]
                ),
            ),
            T.StructField(
                "documentKey", T.StructType([T.StructField("_id", T.StringType())])
            ),
            T.StructField("fullDocument", doc_schema),
            T.StructField("updateDescription", UPDATE_DESCRIPTION_TYPE),
        ]
    )
