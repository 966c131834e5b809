"""Sources & sinks (SURVEY.md §2.1).

- S1: N-Triples scan — the reference parses ``.nt`` via rdflib into an
  (s, p, o) iterator [R load_tensor.py]; here it is ``spark.read.text`` +
  one ``regexp_extract`` per column (codegen, parallel over file splits,
  no rdflib dependency).
- S5: N-Triples sink — reference serializes an rdflib Graph
  [R generate_model.py]; here ``concat_ws`` + ``write.text``.
  (The partitioned parquet triple sink lives in operators/materialize.py.)
- Driver rows: ``local_frame`` hands a driver-built table to Spark as an
  Arrow ``LocalRelation``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# <subject> <predicate> <object-uri> .   |   <s> <p> "literal" .
_NT_RE = r"^\s*<([^>]*)>\s+<([^>]*)>\s+(?:<([^>]*)>|\"((?:[^\"\\]|\\.)*)\")\s*\.\s*$"


def local_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Drop-in for ``spark.createDataFrame(rows, schema)`` on driver-built
    tuples (``schema`` a DDL string), shipped as one Arrow table.

    Under ``spark.sql.execution.arrow.localRelationThreshold`` the result
    is a ``LocalRelation``: the optimizer folds projections over it on the
    driver (``ConvertToLocalRelation``), a collect of it runs no job, and no
    pickled-row RDD is re-run per consuming action. A broadcast join against
    it still runs one job, which builds the broadcast relation. The
    Arrow-table path does not depend on
    ``spark.sql.execution.arrow.pyspark.enabled``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    st = DataType.fromDDL(schema)
    arrow = to_arrow_schema(st)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, st)


def read_ntriples(spark: SparkSession, path: str) -> DataFrame:
    """.nt text → (subj, pred, obj, is_literal). Malformed lines are dropped
    (same behavior as a tolerant rdflib parse); comments/blank lines too."""
    raw = spark.read.text(path)
    parsed = raw.select(
        F.regexp_extract("value", _NT_RE, 1).alias("subj"),
        F.regexp_extract("value", _NT_RE, 2).alias("pred"),
        F.regexp_extract("value", _NT_RE, 3).alias("obj_uri"),
        F.regexp_extract("value", _NT_RE, 4).alias("obj_lit"),
    ).filter((F.col("subj") != "") & (F.col("pred") != ""))
    return parsed.select(
        "subj",
        "pred",
        F.when(F.col("obj_uri") != "", F.col("obj_uri"))
        .otherwise(F.col("obj_lit"))
        .alias("obj"),
        (F.col("obj_uri") == "").alias("is_literal"),
    )


def write_ntriples(triples: DataFrame, path: str, base_uri: str = "http://kb/") -> None:
    """(subj, pred, obj) → .nt text files (one line per triple)."""
    from kbgen_spark.operators.materialize import triples_to_ntriples

    triples_to_ntriples(triples, base_uri).write.mode("overwrite").text(path)
