"""Input readers (SURVEY.md §2.4).

The reference deserializes each datagram/line with one of three
unserializers — json_logstash / msgpack / raw interpolated
(/root/reference/lib/lib/base_input.js:27-77) — then stamps tags/fields.
Spark's equivalents are schema'd readers; each returns a DataFrame with the
canonical event columns present.  Streaming twins live in streaming/.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _stamp(df: DataFrame, *, type_value: str | None = None,
           tags: Sequence[str] = (), add_fields: dict | None = None) -> DataFrame:
    """Input-side decoration (lib/agent.js:244-248): every input attaches
    type/tags/fields before the filter chain sees the event."""
    if type_value is not None:
        df = df.withColumn("type", F.lit(type_value))
    if tags:
        df = df.withColumn("tags", F.array(*[F.lit(t) for t in tags]))
    for k, v in (add_fields or {}).items():
        df = df.withColumn(k, F.lit(v))
    return df


def read_lines(spark: SparkSession, path: str, *,
               with_line_no: bool = False, **stamp_kw) -> DataFrame:
    """Text-file input, one event per line with the raw line as `message`
    (input_file.js + 'raw' unserializer, base_input.js:59-66).  Adds `path`
    like the reference's file input does.

    ``with_line_no=True`` adds `line_no` (1-based per-file arrival order —
    the reference's implicit event order, which order-sensitive filters
    like multiline key on).  Opt-in because it costs a per-path window;
    per-file order derives from monotonically_increasing_id, ordered within
    a partition (the text reader emits each file's lines in offset order).
    """
    df = (spark.read.text(path)
          .withColumnRenamed("value", "message")
          .withColumn("path", F.input_file_name()))
    if with_line_no:
        from pyspark.sql import Window
        df = df.withColumn("_mid", F.monotonically_increasing_id())
        w = Window.partitionBy("path").orderBy("_mid")
        df = df.withColumn("line_no", F.row_number().over(w)).drop("_mid")
    return _stamp(df, **stamp_kw)


def read_msgpack(spark: SparkSession, path: str,
                 schema: T.StructType, **stamp_kw) -> DataFrame:
    """msgpack unserializer (base_input.js:27-41 'msgpack' branch).

    Gated on the msgpack library (not in this container): raises a clear
    ImportError if absent.  When available: binaryFile scan + mapInPandas
    unpack — one Arrow batch per file chunk, schema enforced."""
    try:
        import msgpack  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "read_msgpack requires the `msgpack` package (not installed in "
            "this environment); NDJSON/parquet inputs cover the same event "
            "shapes") from e

    import pandas as pd

    names = schema.fieldNames()

    def unpack(batches):
        import msgpack as mp
        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                unpacker = mp.Unpacker(raw=False)
                unpacker.feed(blob)
                for obj in unpacker:
                    rows.append(tuple(obj.get(n) for n in names))
            yield pd.DataFrame(rows, columns=names)

    df = (spark.read.format("binaryFile").load(path)
          .select("content")
          .mapInPandas(unpack, schema=schema))
    return _stamp(df, **stamp_kw)


def read_jdbc(spark: SparkSession, url: str, dbtable: str, *,
              user: str | None = None, password: str | None = None,
              driver: str | None = None, **options) -> DataFrame:
    """JDBC dim-table reader (the mysql lookup-filter's load side and a
    general §2.4 source).  ``dbtable`` may be a table name or a
    ``(subquery) AS t`` pushdown.  Partitioned pulls (partitionColumn/
    lowerBound/upperBound/numPartitions) pass through via **options for
    big tables; lookup dims read single-partition and get broadcast by the
    caller.  Requires the driver jar on the classpath (--jars)."""
    r = spark.read.format("jdbc").option("url", url).option("dbtable", dbtable)
    if user is not None:
        r = r.option("user", user)
    if password is not None:
        r = r.option("password", password)
    if driver is not None:
        r = r.option("driver", driver)
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()
