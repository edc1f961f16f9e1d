"""Group U — UDF / UDAF / UDTF surface (SURVEY.md §2.U).

UDFs are the slow path (SURVEY.md 100TB notes): U1 exists to *prove* the
row-at-a-time API, U2-U4 are the Arrow-vectorized forms that are actually
allowed in hot paths. Logic is kept trivially SQL-expressible so every
operator has a DuckDB oracle (U3's group aggregation rounds at 4 — numpy's
pairwise sum vs DuckDB's sequential sum differ in the last ulps).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType

from scylladb_redpanda_cdc_spark.plans import QuerySpec
from scylladb_redpanda_cdc_spark.sources.tables import load_table as _T

# -- U1: row-at-a-time Python UDF -------------------------------------------


def _net_price(price, discount):
    # Deliberately UNhinted: row-kind Python UDFs carry their return type in
    # the F.udf(..., DoubleType()) declaration, and pyspark 4 warns ("Cannot
    # infer the eval type from type hints") when scalar hints are present on
    # a non-pandas signature.
    return price * (1.0 - discount)


def u1_udf_python(spark, sf_dir):
    """Row-at-a-time UDF: IEEE double ops, so results are bit-identical to
    the SQL expression — exact oracle, no tolerance. The bulk-rows filter
    runs JVM-side BEFORE the UDF (predicate never enters Python), bounding
    the per-row interpreter cost the operator exists to demonstrate."""
    net = F.udf(_net_price, DoubleType())
    li = _T(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 40)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net("l_extendedprice", "l_discount").alias("net_price"),
    )


# -- U11: Arrow-OPTIMIZED Python UDF (Spark 4 useArrow) ----------------------


def u11_udf_arrow_optimized(spark, sf_dir):
    """Spark 4's third UDF execution mode: a plain row-signature Python UDF
    with ``useArrow=True`` — the interpreter still sees one row at a time
    (u1's authoring model, no pandas required) but transfer rides Arrow
    batches instead of pickled rows, recovering most of u2's throughput
    without rewriting the function. Same IEEE double algebra as u1/u2, so
    the oracle is exact. The JVM-side filter still precedes the UDF
    (predicate never enters Python)."""
    net = F.udf(_net_price, DoubleType(), useArrow=True)
    li = _T(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net("l_extendedprice", "l_discount").alias("net_price"),
    )


# -- U2: vectorized (Arrow) scalar pandas UDF --------------------------------


@F.pandas_udf(DoubleType())
def _net_price_vec(price: pd.Series, discount: pd.Series) -> pd.Series:
    return price * (1.0 - discount)


@F.pandas_udf(StringType())
def _flag_label(flag: pd.Series) -> pd.Series:
    return flag.map({"R": "returned", "A": "accepted", "N": "none"}).fillna("unknown")


def u2_udf_pandas_scalar(spark, sf_dir):
    li = _T(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _net_price_vec("l_extendedprice", "l_discount").alias("net_price"),
        _flag_label("l_returnflag").alias("flag_label"),
    )


# -- U3: grouped-aggregate pandas UDF (UDAF) ---------------------------------


@F.pandas_udf(DoubleType())
def _weighted_avg_price(price: pd.Series, qty: pd.Series) -> float:
    return round(float((price * qty).sum() / qty.sum()), 4)


# note: a DDL-string return type here would require an active SparkSession
# at import time; pass the DataType object instead.
@F.pandas_udf(LongType())
def _count_rows(qty: pd.Series) -> int:
    return int(len(qty))


def u3_udaf_pandas_grouped(spark, sf_dir):
    # group-aggregate pandas UDFs cannot mix with built-in aggregates in one
    # agg(), so the count is a pandas UDAF too.
    li = _T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        _weighted_avg_price("l_extendedprice", "l_quantity").alias("w_avg_price"),
        _count_rows("l_quantity").alias("n"),
    )


# -- U13: pandas UDAF evaluated OVER a window frame --------------------------


@F.pandas_udf(LongType())
def _qty_sum_w(qty: pd.Series) -> int:
    # int64 sum of int-valued quantities: exact, so the oracle is a plain
    # windowed SUM. The VALUE is deliberately trivial — the operator under
    # test is the execution surface (WindowInPandas), not the arithmetic.
    return int(qty.sum())


def u13_pandas_udaf_window(spark, sf_dir):
    """Pandas UDAF evaluated over a WINDOW frame (WindowInPandas) — the
    third and last grouped-Python execution surface after grouped-agg
    (u3) and grouped-map (u6): the same GROUPED_AGG pandas UDF, but
    ``.over(...)`` a bounded trailing frame, so Spark ships each frame's
    slice to Python per row instead of one group per call. This is how a
    custom aggregate (a bespoke decay metric, an exotic robust mean)
    runs as a MOVING metric without a self-join.

    Exactness: int64 sum over a 3-row trailing frame — bit-exact, plain
    windowed SUM oracle. The frame order carries a quantity tiebreaker
    because the fixture has duplicate (orderkey, linenumber) pairs with
    DIFFERENT quantities: a ROWS frame over a non-total order is
    engine-nondeterministic (sf0.1 exposed this; sf0.01 didn't), while
    rows tied on (linenumber, quantity) are output-identical, making
    every trailing sum order-invariant. Scale: one shuffle on the window
    key; frames are row-bounded so per-row Python cost is O(frame), and
    the partition key (orderkey) is fixture-uniform — no hot key. The
    slice is deliberately narrow (%63, ~1.6% of lineitem): WindowInPandas
    pays one Python aggregate call PER ROW-FRAME (measured ~0.2 ms/row —
    17.7 s over the 14% slice at sf0.1), which is the surface's real
    cost profile; the operator pins the surface, and anything hot enough
    to matter belongs in a built-in or u2's vectorized form."""
    li = _T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 63 == 0)
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_quantity")
        .rowsBetween(-2, 0)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("qty"),
        _qty_sum_w(F.col("l_quantity").cast("long")).over(w).alias("qty_3row_sum"),
    )


_U13_SQL = """SELECT l_orderkey, l_linenumber,
  CAST(l_quantity AS BIGINT) AS qty,
  CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (
    PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS qty_3row_sum
FROM lineitem WHERE l_orderkey % 63 = 0"""


# -- U14: SQL-language scalar UDF (Spark 4 CREATE FUNCTION ... RETURN) -------


def u14_sql_udf(spark, sf_dir):
    """SQL-language scalar UDF (Spark 4's ``CREATE FUNCTION ... RETURN
    <expr>``, SPARK-46246): the same net-price contract as u1/u2/u11,
    but the function BODY is SQL, so the analyzer INLINES it into the
    plan — no Python worker, no serialization boundary, full
    whole-stage codegen (the plan sweep proves no Python node appears).
    This is the form a shared business-logic library should take before
    anyone reaches for a Python UDF; u1/u11/u2 exist for logic SQL
    can't express.

    Exactness: IEEE double algebra identical to u1's oracle. Scale:
    indistinguishable from writing the expression inline — the function
    is a naming layer, not an execution layer."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION sg_u14_net(price DOUBLE,"
        " disc DOUBLE) RETURNS DOUBLE RETURN price * (1.0 - disc)"
    )
    _T(spark, sf_dir, "lineitem").createOrReplaceTempView("sg_u14_lineitem")
    return spark.sql(
        "SELECT l_orderkey, l_linenumber,"
        " sg_u14_net(l_extendedprice, l_discount) AS net_price"
        " FROM sg_u14_lineitem WHERE l_quantity >= 35"
    )


_U14_SQL = """SELECT l_orderkey, l_linenumber,
  l_extendedprice * (1.0 - l_discount) AS net_price
FROM lineitem WHERE l_quantity >= 35"""


# -- U15: UDTF with a TABLE argument (whole-relation input) ------------------


def u15_udtf_table_arg(spark, sf_dir):
    """Python UDTF invoked with a TABLE(...) ARGUMENT (Spark 4,
    SPARK-44503): the function consumes a whole RELATION instead of
    per-call scalars — ``SELECT * FROM f(TABLE(v))`` — the form
    user-defined relational transforms (sessionizers, format shredders)
    take when their input is a query, not a column. Each input row's
    priority string is shredded into indexed pieces; the oracle is the
    same shred via lateral unnest. u7 is the scalar-LATERAL form; u15 is
    the relation-passing form.

    Scale: rows stream through the UDTF partition-local (no shuffle
    introduced by TABLE passing without PARTITION BY); per-row Python is
    the declared slow path, bounded here by the %50 keyslice."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="o_orderkey bigint, part_idx int, piece string")
    class PrioritySplit:
        def eval(self, row):
            for i, piece in enumerate(row["o_orderpriority"].split("-")):
                yield row["o_orderkey"], i, piece

    spark.udtf.register("sg_u15_split", PrioritySplit)
    (
        _T(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select("o_orderkey", "o_orderpriority")
        .createOrReplaceTempView("sg_u15_orders")
    )
    return spark.sql("SELECT * FROM sg_u15_split(TABLE(sg_u15_orders))")


_U15_SQL = """WITH s AS (
  SELECT o_orderkey, string_split(o_orderpriority, '-') AS parts
  FROM orders WHERE o_orderkey % 50 = 0)
SELECT o_orderkey, CAST(i - 1 AS INTEGER) AS part_idx, parts[i] AS piece
FROM s, unnest(range(1, len(parts) + 1)) AS t(i)"""


# -- U4: mapInPandas (UDTF-shaped: N rows in, M rows out) ---------------------

_U4_SCHEMA = "p_partkey long, word string, word_len int"


def _explode_words(batches):
    for pdf in batches:
        words = pdf["p_name"].str.split(" ")
        out = pdf[["p_partkey"]].copy()
        out["word"] = words
        out = out.explode("word", ignore_index=True)
        out["word_len"] = out["word"].str.len().astype("int32")
        yield out


def u4_udtf_mapinpandas(spark, sf_dir):
    """Arrow-batched N->M row transform; partition-local, no shuffle."""
    p = _T(spark, sf_dir, "part").select("p_partkey", "p_name")
    return p.mapInPandas(_explode_words, _U4_SCHEMA)


# -- U7: declared Python UDTF (Spark 4 table-function surface) ---------------


def u7_python_udtf(spark, sf_dir):
    """The DECLARED Python-UDTF surface (u4 proves the mapInPandas shape;
    u7 is Spark 4's first-class table function): a class-based UDTF
    registered and invoked through a LATERAL join in SQL — one input row
    yields one output row per word, with its position. `split(' ')`
    mirrors the oracle's `string_split` exactly (no regex, no empty-drop).

    Scale note: per-row Python generators are the slow path (same budget
    as U1) — the point is API surface parity; the vectorized rewrite IS
    u4. Partition-local, no shuffle."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, idx int")
    class SplitWords:
        def eval(self, name: str):
            for i, w in enumerate(name.split(" ")):
                yield (w, i)

    spark.udtf.register("u7_split_words", SplitWords)
    _T(spark, sf_dir, "part").select("p_partkey", "p_name").createOrReplaceTempView(
        "u7_part"
    )
    return spark.sql(
        "SELECT p_partkey, t.word, t.idx "
        "FROM u7_part, LATERAL u7_split_words(p_name) t"
    )


def u12_udtf_polymorphic(spark, sf_dir):
    """POLYMORPHIC Python UDTF (Spark 4's ``analyze`` static method): the
    output schema is computed from the call-site arguments at plan time —
    here an n-gram splitter whose column set (w0..w{k-1}, idx) is derived
    from the literal k=2, so ``sg_u12_ngrams(p_name, 3)`` would plan a
    three-word schema with NO code change. u7 is the fixed-schema UDTF;
    u12 is the schema-from-arguments form that makes table functions
    reusable across shapes (the Spark-native answer to generic
    flatten/explode helpers). `split(' ')` mirrors the oracle's
    `string_split` exactly.

    Scale: partition-local row generator (the declared slow path, same
    budget as u1/u7); the feature under test is the PLANNING surface."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class NGrams:
        @staticmethod
        def analyze(name: AnalyzeArgument, k: AnalyzeArgument) -> AnalyzeResult:
            width = int(k.value)
            return AnalyzeResult(
                StructType(
                    [StructField(f"w{i}", StringType()) for i in range(width)]
                    + [StructField("idx", IntegerType())]
                )
            )

        def eval(self, name: str, k: int):
            toks = name.split(" ")
            for i in range(len(toks) - k + 1):
                yield (*toks[i : i + k], i)

    spark.udtf.register("sg_u12_ngrams", NGrams)
    _T(spark, sf_dir, "part").select("p_partkey", "p_name").createOrReplaceTempView(
        "u12_part"
    )
    return spark.sql(
        "SELECT p_partkey, t.w0, t.w1, t.idx "
        "FROM u12_part, LATERAL sg_u12_ngrams(p_name, 2) t"
    )


_U12_SQL = """WITH t AS (
  SELECT p_partkey, string_split(p_name, ' ') AS ws FROM part)
SELECT p_partkey, ws[i] AS w0, ws[i+1] AS w1, CAST(i - 1 AS INTEGER) AS idx
FROM t, UNNEST(range(1, len(ws))) AS u(i)"""


# -- U6: applyInPandas grouped-map (whole group in, whole group out) ----------

_U6_SCHEMA = "user_id long, event_id long, ts_us long, seq long, gap_us long"


def _sequence_user_events(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-user sessional sequencing in pandas: event rank and gap to the
    previous event. Integer-only outputs, so numpy vs SQL float summation
    order can never diverge."""
    pdf = pdf.sort_values(["ts_us", "event_id"]).reset_index(drop=True)
    pdf["seq"] = range(1, len(pdf) + 1)
    pdf["gap_us"] = pdf["ts_us"].diff().fillna(0).astype("int64")
    return pdf


def u8_map_in_arrow(spark, sf_dir):
    """``mapInArrow``: the zero-copy batch API below mapInPandas — batches
    arrive as ``pyarrow.RecordBatch`` and every computation here is a
    vectorized Arrow compute kernel (no pandas materialization, no Python
    loop — the cheapest possible Python-adjacent path; for string-heavy
    batch transforms the pandas conversion u4 pays is pure overhead).
    Outputs are integers (byte length, uppercase-letter count) so there is
    no float question at all.

    Scale: partition-local (zero shuffles), Arrow batch size bounds
    worker memory, and the kernels run in Arrow's C++ — the Python layer
    only routes batches."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def feats(batches):
        for batch in batches:
            name = batch.column(batch.schema.get_field_index("p_name"))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("p_partkey")),
                    pc.cast(pc.binary_length(name), pa.int64()),
                    pc.cast(
                        pc.count_substring_regex(name, "[A-Z]"), pa.int64()
                    ),
                ],
                names=["p_partkey", "n_bytes", "n_upper"],
            )

    p = _T(spark, sf_dir, "part").select("p_partkey", "p_name")
    return p.mapInArrow(feats, "p_partkey bigint, n_bytes bigint, n_upper bigint")


def u9_pandas_udf_iterator(spark, sf_dir):
    """Iterator-of-Series pandas UDF (SCALAR_ITER): the variant whose
    point is per-worker amortization — expensive one-time setup (a model
    load, a compiled regex, a tokenizer) happens ONCE per executor task
    before the batch loop, not once per batch (U2's plain scalar UDF
    re-enters Python with no setup hook). Here the 'model' is a constant
    affine adjustment initialized before the loop; the arithmetic is
    plain IEEE doubles so the oracle is the same expression natively.

    Scale: partition-local, Arrow-batched; setup cost amortizes over
    every batch a task processes — the difference between 10k model
    loads and 32 at 100 TB."""
    @F.pandas_udf(DoubleType())
    def net_price_iter(
        batches: Iterator[pd.Series],
    ) -> Iterator[pd.Series]:
        # once-per-task setup (the amortized 'model load')
        rate = 1.0
        for prices in batches:
            yield prices * rate

    li = _T(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 30)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net_price_iter(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).alias("net_price"),
    )


def u10_python_datasource(spark, sf_dir):
    """Spark 4's Python DataSource API — the newest extension point: a
    custom source class registered with ``spark.dataSource.register`` and
    read through the ordinary ``spark.read.format(...)`` path, partition
    planning included (two partitions here, each generating its half of a
    deterministic keyed sequence with derived columns). This is how a
    team plugs a proprietary feed into the engine WITHOUT JVM code; the
    oracle is DuckDB's ``range()`` twin of the same generator.

    Scale: ``partitions()`` is the parallelism contract — each partition
    generates/reads independently on an executor (a real feed returns one
    partition per shard/offset-range, exactly the Kafka source's shape)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class SeqSource(DataSource):
        @classmethod
        def name(cls):
            return "sg_seq"

        def schema(self):
            return "k bigint, k_sq bigint, parity string"

        def reader(self, schema):
            return SeqReader()

    class SeqReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(0), InputPartition(1)]

        def read(self, partition):
            lo = partition.value * 50
            for k in range(lo, lo + 50):
                yield (k, k * k, "even" if k % 2 == 0 else "odd")

    spark.dataSource.register(SeqSource)
    return spark.read.format("sg_seq").load()


def u6_grouped_map_applyinpandas(spark, sf_dir):
    """U6: ``applyInPandas`` grouped-map — the whole-group-in /
    whole-group-out API (U3 aggregates a group to one row; U6 transforms
    every row WITH full-group context, the shape per-entity featurization
    and sessionization UDFs take in practice).

    Scale shape: one shuffle on the grouping key, then Arrow-batched
    per-group pandas; each group must fit one worker's memory — the
    documented constraint of the API (a bot user at 100 TB calls for the
    b36-style bucketing rewrite instead). Deterministic: the in-group sort
    is (ts_us, event_id) — a total order — and outputs are exact ints."""
    e = _T(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    return e.groupBy("user_id").applyInPandas(
        _sequence_user_events, _U6_SCHEMA
    )


# -- U5: SQL-registered UDF used from spark.sql ------------------------------


def u5_udf_sql_register(spark, sf_dir):
    spark.udf.register("u5_price_band", lambda p: "big" if p > 300000 else ("mid" if p > 100000 else "small"), StringType())
    _T(spark, sf_dir, "orders").createOrReplaceTempView("u5_orders")
    return spark.sql(
        "SELECT o_orderkey, u5_price_band(o_totalprice) AS price_band FROM u5_orders"
    )


# -- U17: Arrow-optimized Python UDTF (Spark 4.1) ----------------------------


def u17_udtf_arrow(spark, sf_dir):
    """ARROW-OPTIMIZED Python UDTF (``useArrow=True``, SPARK-43964): the
    same declared table-function surface as u7, but rows move through
    Arrow batches instead of pickled tuples — the u1→u11 vectorization
    story applied to UDTFs. Logic mirrors u7's word shred (over p_type
    here) so the only variable is the transport; the oracle is the same
    lateral-unnest twin.

    Scale: per-row Python generators remain the declared slow path; Arrow
    batching removes the serialization tax, partition-local, no
    shuffle."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="piece string, idx int", useArrow=True)
    class SplitType:
        def eval(self, t: str):
            for i, w in enumerate(t.split(" ")):
                yield (w, i)

    spark.udtf.register("sg_u17_split_type", SplitType)
    _T(spark, sf_dir, "part").select("p_partkey", "p_type").filter(
        F.col("p_partkey") % 20 == 0
    ).createOrReplaceTempView("sg_u17_part")
    return spark.sql(
        "SELECT p_partkey, t.piece, t.idx "
        "FROM sg_u17_part, LATERAL sg_u17_split_type(p_type) t"
    )


_U17_SQL = """WITH s AS (
  SELECT p_partkey, string_split(p_type, ' ') AS ws
  FROM part WHERE p_partkey % 20 = 0)
SELECT p_partkey, ws[i] AS piece, CAST(i - 1 AS INTEGER) AS idx
FROM s, unnest(range(1, len(ws) + 1)) AS t(i)"""


# -- U18: Python DataSource WRITER (Spark 4) ---------------------------------


def u18_python_datasource_writer(spark, sf_dir):
    """The WRITE half of Spark 4's Python DataSource API (u10 is the
    read half, SPARK-45065): a custom sink class whose ``writer()``
    receives each partition's rows IN PYTHON and commits per-partition
    artifacts — how a team pushes curated data into a proprietary store
    without JVM code (the reference pipeline's mirror image: its
    connector WRITES to Kafka; this is that extension point on the
    Spark side). Each task writes its rows as CSV lines to a task file
    under a scratch dir; the spec then reads the committed artifacts
    back with an explicit schema and aggregates — equality with the
    oracle over the ORIGINAL table proves the Python write path
    round-trips every row exactly once (no loss, no double-commit).

    Scale: writes are partition-local Python (the declared slow path);
    the commit protocol is per-task file + driver-side commit message,
    exactly the executor/coordinator split a real sink uses."""
    import os as _os

    from pyspark.sql.datasource import DataSource, DataSourceWriter
    from scylladb_redpanda_cdc_spark.streaming.core import tmpdir

    out_dir = tmpdir("u18_sink")

    class CsvSink(DataSource):
        @classmethod
        def name(cls):
            return "sg_u18_csv_sink"

        def writer(self, schema, overwrite):
            return CsvSinkWriter(self.options["path"])

    class CsvSinkWriter(DataSourceWriter):
        def __init__(self, path):
            self.path = path

        def write(self, it):
            import uuid

            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            task_file = _os.path.join(
                self.path, f"part-{pid}-{uuid.uuid4().hex}.csv"
            )
            with open(task_file, "w", encoding="utf-8") as f:
                for row in it:
                    f.write(f"{row.o_orderkey},{row.cents}\n")
            from pyspark.sql.datasource import WriterCommitMessage

            return WriterCommitMessage()

    spark.dataSource.register(CsvSink)
    (
        _T(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .write.format("sg_u18_csv_sink")
        .option("path", out_dir)
        .mode("append")
        .save()
    )
    back = spark.read.schema("o_orderkey bigint, cents bigint").csv(out_dir)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        F.sum("cents").alias("total_cents"),
    )


_U18_SQL = """SELECT COUNT(*) AS n_rows,
  COUNT(DISTINCT o_orderkey) AS n_keys,
  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    AS total_cents
FROM orders WHERE o_orderkey % 10 = 0"""


# -- U16: applyInArrow grouped-map (Spark 4, zero-copy group tables) ---------

_U16_SCHEMA = "l_returnflag string, n bigint, sum_qty bigint, max_price_c bigint"


def _arrow_group_summary(table):
    """Whole group in as ONE pyarrow.Table, one summary row out — every
    aggregate is an Arrow C++ kernel (no pandas materialization, no
    Python loop). Integer-only outputs: quantity is integral, price
    rounds to exact cents, so no float summation-order question."""
    import pyarrow as pa
    import pyarrow.compute as pc

    qty = pc.cast(table.column("l_quantity"), pa.int64())
    cents = pc.cast(
        pc.round(pc.multiply(table.column("l_extendedprice"), pa.scalar(100.0))),
        pa.int64(),
    )
    return pa.table(
        {
            "l_returnflag": [table.column("l_returnflag")[0].as_py()],
            "n": pa.array([table.num_rows], pa.int64()),
            "sum_qty": pa.array([pc.sum(qty).as_py()], pa.int64()),
            "max_price_c": pa.array([pc.min_max(cents)["max"].as_py()], pa.int64()),
        }
    )


def u16_apply_in_arrow(spark, sf_dir):
    """``groupBy().applyInArrow`` (Spark 4.0, SPARK-45718): the grouped-map
    twin of u8's ``mapInArrow`` — each group arrives as one zero-copy
    ``pyarrow.Table``, the summary comes back as a Table, and no pandas
    conversion ever happens (u6 pays that conversion per group; this is
    the cheap path for groups whose logic Arrow kernels can express).

    Scale: one hash shuffle on the group key, then partition-local Arrow
    C++ kernels; group size bounds worker memory (returnflag groups are
    corpus-sized — fine at bench SF, and the API contract under test is
    per-group table shape, not volume)."""
    li = _T(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return li.groupBy("l_returnflag").applyInArrow(
        _arrow_group_summary, _U16_SCHEMA
    )


_U16_SQL = """SELECT l_returnflag,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
  MAX(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS max_price_c
FROM lineitem GROUP BY l_returnflag"""


SPECS = [
    QuerySpec(
        "u1_udf_python",
        "U",
        "row-at-a-time Python UDF",
        u1_udf_python,
        "SELECT l_orderkey, l_linenumber,"
        " l_extendedprice * (1.0 - l_discount) AS net_price FROM lineitem"
        " WHERE l_quantity >= 40",
    ),
    QuerySpec(
        "u2_udf_pandas_scalar",
        "U",
        "vectorized scalar pandas UDF (Arrow)",
        u2_udf_pandas_scalar,
        "SELECT l_orderkey, l_linenumber,\n"
        "  l_extendedprice * (1.0 - l_discount) AS net_price,\n"
        "  CASE l_returnflag WHEN 'R' THEN 'returned' WHEN 'A' THEN 'accepted'\n"
        "       WHEN 'N' THEN 'none' ELSE 'unknown' END AS flag_label\n"
        "FROM lineitem",
    ),
    QuerySpec(
        "u3_udaf_pandas_grouped",
        "U",
        "grouped-aggregate pandas UDF (weighted mean)",
        u3_udaf_pandas_grouped,
        "SELECT l_returnflag,\n"
        "  ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4)"
        " AS w_avg_price,\n"
        "  COUNT(*) AS n\n"
        "FROM lineitem GROUP BY l_returnflag",
    ),
    QuerySpec(
        "u4_udtf_mapinpandas",
        "U",
        "mapInPandas N->M row transform (UDTF shape)",
        u4_udtf_mapinpandas,
        "SELECT p_partkey, word, CAST(length(word) AS INTEGER) AS word_len\n"
        "FROM (SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part)",
    ),
    QuerySpec(
        "u5_udf_sql_register",
        "U",
        "UDF registered and invoked from spark.sql",
        u5_udf_sql_register,
        "SELECT o_orderkey, CASE WHEN o_totalprice > 300000 THEN 'big'\n"
        "  WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS price_band\n"
        "FROM orders",
    ),
    QuerySpec(
        "u7_python_udtf",
        "U",
        "declared Python UDTF in a LATERAL join (Spark 4 table function)",
        u7_python_udtf,
        "SELECT p_partkey, gp.word AS word, CAST(gp.idx AS INT) AS idx\n"
        "FROM (SELECT p_partkey,\n"
        "  unnest(list_transform(range(1, len(ws) + 1),\n"
        "    i -> {'idx': i - 1, 'word': ws[i]})) AS gp\n"
        "  FROM (SELECT p_partkey, string_split(p_name, ' ') AS ws"
        " FROM part) w) t",
    ),
    QuerySpec(
        "u6_grouped_map_applyinpandas",
        "U",
        "applyInPandas grouped-map: per-user event seq + gap (exact ints)",
        u6_grouped_map_applyinpandas,
        "SELECT user_id, event_id, epoch_us(ts) AS ts_us,\n"
        "  ROW_NUMBER() OVER w AS seq,\n"
        "  CAST(COALESCE(epoch_us(ts) - lag(epoch_us(ts)) OVER w, 0)"
        " AS BIGINT) AS gap_us\n"
        "FROM events\n"
        "WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)",
    ),
    QuerySpec(
        "u9_pandas_udf_iterator",
        "U",
        "SCALAR_ITER pandas UDF: once-per-task setup amortized over batches",
        u9_pandas_udf_iterator,
        "SELECT l_orderkey, l_linenumber,\n"
        "  l_extendedprice * (1.0 - l_discount) AS net_price\n"
        "FROM lineitem WHERE l_quantity >= 30",
    ),
    QuerySpec(
        "u10_python_datasource",
        "U",
        "Spark 4 Python DataSource: registered source, partition planning",
        u10_python_datasource,
        "SELECT k, k * k AS k_sq,\n"
        "  CASE WHEN k % 2 = 0 THEN 'even' ELSE 'odd' END AS parity\n"
        "FROM (SELECT unnest(range(0, 100)) AS k)",
    ),
    QuerySpec(
        "u11_udf_arrow_optimized",
        "U",
        "Spark 4 useArrow Python UDF: row authoring model, Arrow transport",
        u11_udf_arrow_optimized,
        "SELECT l_orderkey, l_linenumber,\n"
        "  l_extendedprice * (1.0 - l_discount) AS net_price\n"
        "FROM lineitem WHERE l_quantity >= 45",
    ),
    QuerySpec(
        "u12_udtf_polymorphic",
        "U",
        "analyze-based UDTF: output schema computed from call-site args",
        u12_udtf_polymorphic,
        _U12_SQL,
    ),
    QuerySpec(
        "u13_pandas_udaf_window",
        "U",
        "GROUPED_AGG pandas UDF over a bounded window frame (WindowInPandas)",
        u13_pandas_udaf_window,
        _U13_SQL,
    ),
    QuerySpec(
        "u14_sql_udf",
        "U",
        "SQL-language scalar UDF: analyzer-inlined, zero Python, codegen",
        u14_sql_udf,
        _U14_SQL,
    ),
    QuerySpec(
        "u15_udtf_table_arg",
        "U",
        "UDTF consuming a TABLE(...) argument: whole-relation input",
        u15_udtf_table_arg,
        _U15_SQL,
    ),
    QuerySpec(
        "u16_apply_in_arrow",
        "U",
        "groupBy().applyInArrow: zero-copy grouped-map over pyarrow Tables",
        u16_apply_in_arrow,
        _U16_SQL,
    ),
    QuerySpec(
        "u17_udtf_arrow",
        "U",
        "Arrow-optimized Python UDTF (useArrow=True): batched transport",
        u17_udtf_arrow,
        _U17_SQL,
    ),
    QuerySpec(
        "u18_python_datasource_writer",
        "U",
        "Python DataSource writer: per-task Python commit, exact roundtrip",
        u18_python_datasource_writer,
        _U18_SQL,
    ),
    QuerySpec(
        "u8_map_in_arrow",
        "U",
        "mapInArrow zero-copy batch transform (pure Arrow compute kernels)",
        u8_map_in_arrow,
        "SELECT p_partkey, CAST(octet_length(encode(p_name)) AS BIGINT)"
        " AS n_bytes,\n"
        "  CAST(length(regexp_replace(p_name, '[^A-Z]', '', 'g')) AS BIGINT)"
        " AS n_upper\n"
        "FROM part",
    ),
]


# -- U19: cogrouped-map applyInPandas (two-sided grouped map) ----------------

_U19_SCHEMA = (
    "custkey long, n_orders long, total_cents long,"
    " acctbal_cents long, has_customer boolean"
)

#: u19's cogroup key is a BUCKET of customers, not one customer: a
#: per-customer cogroup pays one Python invocation per key (measured
#: 20 s at sf0.1 for ~15k customers — all interpreter round-trips), while
#: 64 buckets amortize the boundary and let pandas do the per-customer
#: work vectorized inside each call (measured 0.8 s). This is exactly the
#: bucketing rewrite u6's docstring prescribes for high-cardinality keys.
U19_BUCKETS = 64


def _reconcile_bucket(orders_pdf: pd.DataFrame, cust_pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-BUCKET reconciliation over both cogrouped sides: aggregate the
    order side per customer, outer-merge the customer side — vectorized
    pandas inside one Arrow batch, integer-only outputs so summation can
    never diverge from the SQL oracle."""
    agg = (
        orders_pdf.groupby("custkey", as_index=False)
        .agg(n_orders=("cents", "size"), total_cents=("cents", "sum"))
        if len(orders_pdf)
        else pd.DataFrame({"custkey": [], "n_orders": [], "total_cents": []})
    )
    cust = cust_pdf[["custkey", "bal_cents"]]
    m = agg.merge(cust, on="custkey", how="outer", indicator=True)
    return pd.DataFrame(
        {
            "custkey": m["custkey"].astype("int64"),
            "n_orders": m["n_orders"].fillna(0).astype("int64"),
            "total_cents": m["total_cents"].fillna(0).astype("int64"),
            "acctbal_cents": m["bal_cents"].fillna(0).astype("int64"),
            "has_customer": m["_merge"].isin(["right_only", "both"]),
        }
    )


def u19_cogrouped_map(spark, sf_dir):
    """U19: COGROUPED-map ``applyInPandas`` (SPARK-28006) — the two-sided
    sibling of U6 the registry was missing: two DataFrames are grouped on
    the same key and each key's pandas frames arrive TOGETHER in one
    Python call (the as-of-merge / reconciliation shape
    ``pd.merge_asof``-style UDFs take in practice; U6 sees one side,
    U19 sees both). Keys present in EITHER input produce a group — the
    oracle mirrors that with a FULL OUTER aggregate join.

    Scale shape: the cogroup key is a customer BUCKET (``U19_BUCKETS``),
    not a customer — per-key Python invocation overhead is the real cost
    of this API at high key cardinality (measured 20 s -> 0.8 s at
    sf0.1), so the UDF receives a bucket and does the per-customer work
    vectorized in pandas: one shuffle per side on the bucket key,
    Arrow-batched, each bucket pair fits one worker. Integer-only
    outputs."""
    o = _T(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.pmod(F.col("o_custkey"), F.lit(U19_BUCKETS)).alias("bucket"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = _T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.pmod(F.col("c_custkey"), F.lit(U19_BUCKETS)).alias("bucket"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    return (
        o.groupBy("bucket")
        .cogroup(c.groupBy("bucket"))
        .applyInPandas(
            lambda left, right: _reconcile_bucket(left, right), _U19_SCHEMA
        )
    )


_U19_SQL = """WITH o AS (SELECT o_custkey AS custkey,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
       FROM orders GROUP BY 1),
c AS (SELECT c_custkey AS custkey,
        CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer)
SELECT COALESCE(o.custkey, c.custkey) AS custkey,
  CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders,
  CAST(COALESCE(total_cents, 0) AS BIGINT) AS total_cents,
  CAST(COALESCE(bal_cents, 0) AS BIGINT) AS acctbal_cents,
  c.custkey IS NOT NULL AS has_customer
FROM o FULL OUTER JOIN c USING (custkey)"""

SPECS.append(
    QuerySpec(
        "u19_cogrouped_map",
        "U",
        "cogroup().applyInPandas: both sides per key in one Python call",
        u19_cogrouped_map,
        _U19_SQL,
    )
)


# -- U20: pandas API on Spark (pyspark.pandas) -------------------------------


def u20_pandas_api_on_spark(spark, sf_dir):
    """U20: the PANDAS API ON SPARK layer (``pyspark.pandas``, the Koalas
    lineage merged in Spark 3.2) — an entire user-facing API surface the
    registry exercised nowhere else: a pandas-shaped
    ``groupby(...).agg(...)`` over a ps.DataFrame compiles to the SAME
    Catalyst plan a DataFrame groupBy produces, and ``to_spark()`` hands
    the result back losslessly. This is the migration path pandas users
    take onto the cluster; proving it value-identical to the SQL oracle
    is the point.

    Scale shape: cents are floored JVM-side BEFORE entering the pandas
    API (one narrow map), the ps groupby is a plain partial-agg shuffle
    on the 5-value priority key, and no data ever moves through Python —
    pandas-on-Spark is a FRONTEND, not an execution path (the plan shows
    HashAggregate, not any Python node)."""
    import warnings

    o = _T(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    # The pandas layer emits library-internal advice warnings (lost index
    # on to_spark — intended here: the groupby key is re-materialized as a
    # column by reset_index) and numpy deprecation chatter from its own
    # typehints module; neither is actionable by a caller.
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        import pyspark.pandas as ps  # noqa: F401  (bundled with pyspark)

        g = (
            o.pandas_api()
            .groupby("o_orderpriority")
            .agg(n=("cents", "count"), total_cents=("cents", "sum"))
            .reset_index()
        )
        out = g.to_spark()
    return out.select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n"),
        F.col("total_cents").cast("long").alias("total_cents"),
    )


_U20_SQL = """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    AS total_cents
FROM orders GROUP BY o_orderpriority"""

SPECS.append(
    QuerySpec(
        "u20_pandas_api_on_spark",
        "U",
        "pyspark.pandas groupby-agg == SQL: the pandas frontend layer",
        u20_pandas_api_on_spark,
        _U20_SQL,
    )
)
