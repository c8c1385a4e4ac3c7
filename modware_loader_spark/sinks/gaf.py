"""GAF 2.0 writer (reference K5): 17 tab columns with the
``!gaf-version: 2.0`` header (``lib/Modware/Export/GAF.pm:155-167`` header,
``:347-350`` stringify). Multi-valued columns re-joined with '|'."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modware_loader_spark.frames import local_frame
from modware_loader_spark.sources.gaf import GAF_COLUMNS, MULTI_VALUED


def gaf_lines(df: DataFrame) -> DataFrame:
    cols = []
    for name in GAF_COLUMNS:
        c = F.col(name)
        if name in MULTI_VALUED:
            c = F.array_join(c, "|")
        cols.append(F.coalesce(c.cast("string"), F.lit("")))
    return df.select(F.concat_ws("\t", *cols).alias("line"))


def write_gaf(df: DataFrame, path: str) -> None:
    spark = df.sparkSession
    header = local_frame(spark, [("!gaf-version: 2.0", 0)], "line string, ord int")
    body = gaf_lines(df).withColumn("ord", F.lit(1))
    (
        header.unionByName(body)
        .orderBy("ord", "line")
        .select("line")
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )
