"""Relational operator suite over the driver testdata tables.

Each function is the Spark side of a SURVEY.md §2 operator mapping; its
DuckDB oracle twin is the same-named entry of ``queries.ORACLE_SQL``.
Operators take the table DataFrames they read (``events``,
``documents``, ``lineitem``, ...) and read no paths and no session
state: ``queries.SPARK_QUERIES`` binds each to its testdata loaders.
Engine parity rules used throughout:

- Money/quantity aggregation goes through DECIMAL casts → sums are
  exact and partition-order-independent (doubles would drift between
  Spark's parallel and DuckDB's sequential fold).
- Every rank/top-k has a total deterministic ORDER BY (unique-key
  tie-break).
- Timestamps (``events.ts``, ``orders.o_orderdate``) are
  TIMESTAMP_NTZ and every expression over them is zone-free: text is
  a prefix of the NTZ→string cast and epoch micros the NTZ interval
  since 1970-01-01, so results do not depend on the session's
  ``spark.sql.session.timeZone``.

Scale notes are per-function docstrings: which side broadcasts, where
the shuffles are, what AQE handles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dec(c: str) -> Column:
    return F.col(c).cast("decimal(15,4)")


def _epoch_us(ts: Column) -> Column:
    """The TIMESTAMP_NTZ ``ts`` as UTC epoch micros (DuckDB's
    ``epoch_us``): NTZ minus NTZ is an interval with no zone in it, where
    ``unix_micros(ts.cast("timestamp"))`` shifts by the session zone and
    ``timestampdiff`` moves a wall time inside a DST gap by an hour."""
    since = ts - F.expr("TIMESTAMP_NTZ'1970-01-01 00:00:00'")
    return (since.cast("interval second").cast("decimal(18,6)") * 1_000_000).cast("long")


def _ts_text(ts: Column, n_chars: int) -> Column:
    """The first ``n_chars`` of the TIMESTAMP_NTZ ``ts`` as ``yyyy-MM-dd
    HH:mm:ss`` (19) text: the cast prints the stored wall time, where
    ``date_format`` moves one inside a DST gap (02:30 → 03:30)."""
    return F.substring(ts.cast("string"), 1, n_chars)


def _k_prop() -> Column:
    """The integer ``"k"`` field of the ``props`` JSON text, or NULL."""
    return F.nullif(F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1), F.lit("")).cast("int")


def _revenue() -> Column:
    """l_extendedprice × (1 − l_discount), exact in DECIMAL(30,8)."""
    return (
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(15,4)") - _dec("l_discount"))
    ).cast("decimal(30,8)")


# --------------------------------------------------------------------------
# Aggregation pipeline (SURVEY A1/A2: SUM/MAX over harvested numerics)
# --------------------------------------------------------------------------

def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped rollup: one scan, map-side partial agg, one
    shuffle on the (2×2-value) grouping key. At 100 TB this is
    scan-bound; DECIMAL sums keep it exact at any width."""
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_revenue()).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def top_orders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q3-shaped join+agg+topk: the broadcast BUILDING customer
    set filters orders BEFORE the lineitem join, so only BUILDING
    orders meet the largest table; revenue decimal-exact; top 10
    deterministic."""
    cust = customer.filter(F.col("c_mktsegment") == "BUILDING")
    building = orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    rev = (
        lineitem.withColumn("rev", _revenue())
        .join(building, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum("rev").cast("double").alias("revenue"))
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc()).limit(10).select(
        "o_orderkey",
        _ts_text(F.col("o_orderdate"), 10).alias("orderdate"),
        "revenue",
    )


def _star_join(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """lineitem⋈supplier⋈nation⋈region, every dim side broadcast (region=5,
    nation=25, supplier=100 rows — on a real cluster still ≪ the 10 MB
    auto-broadcast bar), so no shuffle comes before the caller's agg."""
    return (
        lineitem.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )


def region_revenue(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Revenue per region over ``_star_join``: the only shuffle is the
    final group-by."""
    return (
        _star_join(lineitem, supplier, nation, region)
        .groupBy("r_name")
        .agg(
            F.sum(_revenue()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name")
    )


# --------------------------------------------------------------------------
# Mode / argmax / latest (SURVEY A3/A4/A5)
# --------------------------------------------------------------------------

def mode_event_type(ev: DataFrame) -> DataFrame:
    """A5 deterministic mode: most frequent event_type per user, ties →
    lexicographically smallest (the reference returns "None" on ties,
    App.jsx:496-544 — we pick a total order instead so the result is
    well-defined under any parallelism)."""
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_event_type"), "n")
    )


def mode_event_type_ties_null(ev: DataFrame) -> DataFrame:
    """A5 mode with the REFERENCE's tie semantics (App.jsx:496-544):
    a tie for the top count yields NULL (the reference renders "None")
    rather than a picked winner. Offered alongside the deterministic
    lexicographic default (``mode_event_type``) so callers choose the
    tie policy explicitly. Plan: the count groupBy's exchange also
    serves the per-user max window and final groupBy (same user_id
    hash partitioning) — still effectively one wide shuffle."""
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    max_n = F.max("n").over(Window.partitionBy("user_id"))
    top = counts.withColumn("max_n", max_n).filter(F.col("n") == F.col("max_n"))
    return (
        top.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("_k"),
            F.min("event_type").alias("_m"),
            F.max("n").alias("n"),
        )
        .select(
            "user_id",
            F.when(F.col("_k") == 1, F.col("_m")).alias("mode_event_type"),
            "n",
        )
    )


def argmax_event(ev: DataFrame) -> DataFrame:
    """A3 argmax: per user, the event with the max value (tie → min
    event_id). row_number over a total order — portable, unlike
    engine-specific max_by tie semantics."""
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_event_type"), F.round("value", 6).alias("top_value"))
    )


def latest_event(ev: DataFrame) -> DataFrame:
    """A4 max-over-dates per user; timestamp out as string."""
    return ev.groupBy("user_id").agg(_ts_text(F.max("ts"), 19).alias("latest_ts"))


def events_per_day(ev: DataFrame) -> DataFrame:
    """Event count per calendar day of ``ts``."""
    return ev.groupBy(_ts_text(F.col("ts"), 10).alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )


def props_sum(ev: DataFrame) -> DataFrame:
    """Per user, the sum and count of the ``"k"`` props field."""
    return ev.select("user_id", _k_prop().alias("k")).groupBy("user_id").agg(
        F.sum("k").alias("k_sum"),
        F.count("k").alias("k_n"),
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def event_type_pivot(ev: DataFrame) -> DataFrame:
    """A6/A8 pivot: per-user counts by event_type as fixed columns
    (conditional aggregation — the reference's transaction pivot,
    download.jsx:184-264, with a static column set so the schema is
    stable and no driver-side distinct/collect is needed)."""
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    return ev.groupBy("user_id").agg(*aggs)


def progress_ratio(ev: DataFrame) -> DataFrame:
    """A7 progress ratio: share of each user's events that are 'click'
    (integer counts + single division → portable)."""
    return ev.groupBy("user_id").agg(
        F.round(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("click_ratio")
    )


def asof_last_purchase(ev: DataFrame) -> DataFrame:
    """AS-OF JOIN, an operator Spark has no native keyword for: each
    'click' event is joined to the user's most recent purchase at or
    before it (J2's correlation join generalized to event-time
    alignment — the shape every feature-backfill / point-in-time-
    correctness pipeline needs).

    Implemented as a cumulative last-non-null window over the UNIONED
    event stream ordered by (ts, event_id): ONE shuffle on user_id and
    a linear scan per user — never the range-join candidate explosion
    a naive ``b.ts <= a.ts`` join produces (at 100 TB that join is
    quadratic per user; this stays O(n log n) sort-bounded). Total
    order (ts, event_id) makes the pick deterministic under ties."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_p = F.col("event_type") == "purchase"
    pval = F.last(F.when(is_p, F.col("value")), ignorenulls=True).over(w)
    pid = F.last(F.when(is_p, F.col("event_id")), ignorenulls=True).over(w)
    return (
        ev.withColumn("last_purchase_event", pid)
        .withColumn("last_purchase_value", F.round(pval, 6))
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "last_purchase_event", "last_purchase_value")
    )


def source_quota_sample(docs: DataFrame) -> DataFrame:
    """Per-source document quota (the domain-cap step of a pretraining
    mix: no single source may contribute more than 10 docs). Selection
    is a deterministic hash order — row_number over md5(doc_id) within
    each source — so the sample is reproducible and unbiased by
    ingestion order. One shuffle on source; at extreme source skew the
    window sort is bounded per partition, and AQE's skew split handles
    a hot source (the selection itself only ever keeps 10 rows)."""
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "source", "rn")
    )


# --------------------------------------------------------------------------
# Pagination / dedup (SURVEY J4/J5)
# --------------------------------------------------------------------------

def paginate_events(ev: DataFrame) -> DataFrame:
    """J4 pagination via row_number over a total order: page 11 at 10
    rows per page.

    REPORT-ONLY operator: the unpartitioned window forces the whole
    table through one task — fine for a bounded report, wrong as an API
    at scale. The scale path is ``paginate_events_keyset`` below."""
    w = Window.orderBy(F.col("event_id").asc())
    lo, hi = 100, 110
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") > lo) & (F.col("rn") <= hi))
        .select("event_id", "user_id", "event_type")
    )


def paginate_events_keyset(ev: DataFrame) -> DataFrame:
    """J4 pagination, keyset form — the scale path: ``WHERE key >
    last_seen ORDER BY key LIMIT n``, here the 10 rows after key 100.
    The predicate pushes down to the scan and orderBy+limit plans as
    TakeOrderedAndProject (per-partition top-k, merged on the driver)
    — no global sort, no single-task window, at any table size."""
    return (
        ev.filter(F.col("event_id") > 100)
        .orderBy(F.col("event_id").asc())
        .limit(10)
        .select("event_id", "user_id", "event_type")
    )


def distinct_user_types(ev: DataFrame) -> DataFrame:
    """J5 idempotent dedup: distinct (user_id, event_type) pairs."""
    return ev.select("user_id", "event_type").distinct()


# --------------------------------------------------------------------------
# Line-window operators over exploded token positions (SURVEY W1/W2)
# --------------------------------------------------------------------------

def _doc_tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word")
    )


def label_next_value(docs: DataFrame) -> DataFrame:
    """W2 relational analogue — label token 'customer' → next-position value
    (first occurrence per doc). In the engine proper this runs
    in-batch (core/pdf_layout.py); this is the Window.partitionBy
    formulation for the relational surface."""
    toks = _doc_tokens(docs)
    w = Window.partitionBy("doc_id").orderBy("pos")
    led = toks.withColumn("nxt", F.lead("word").over(w))
    matches = led.filter(F.col("word") == "customer")
    w2 = Window.partitionBy("doc_id").orderBy("pos")
    return (
        matches.withColumn("rn", F.row_number().over(w2))
        .filter((F.col("rn") == 1) & F.col("nxt").isNotNull())
        .select("doc_id", F.col("nxt").alias("next_word"))
    )


def anchor_lookback(docs: DataFrame) -> DataFrame:
    """W1 relational analogue — at each anchor token 'spark', the
    nearest target token 'table' within the previous 10 positions
    (frame max of conditional pos). First anchor per doc."""
    toks = _doc_tokens(docs)
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-10, -1)
    scanned = toks.withColumn(
        "back_pos", F.max(F.when(F.col("word") == "table", F.col("pos"))).over(w)
    )
    anchors = scanned.filter(F.col("word") == "spark")
    w2 = Window.partitionBy("doc_id").orderBy("pos")
    return (
        anchors.withColumn("rn", F.row_number().over(w2))
        .filter((F.col("rn") == 1) & F.col("back_pos").isNotNull())
        .select("doc_id", F.col("pos").alias("anchor_pos"), F.col("back_pos"))
    )


def label_offset2(docs: DataFrame) -> DataFrame:
    """W3 relational analogue — value at position 'group'+2 (the
    reference's From/(State) offset-2 capture, ocr_utils.py:131-154),
    first occurrence per doc."""
    toks = _doc_tokens(docs)
    w = Window.partitionBy("doc_id").orderBy("pos")
    led = toks.withColumn("plus2", F.lead("word", 2).over(w))
    m = led.filter(F.col("word") == "group")
    w2 = Window.partitionBy("doc_id").orderBy("pos")
    return (
        m.withColumn("rn", F.row_number().over(w2))
        .filter((F.col("rn") == 1) & F.col("plus2").isNotNull())
        .select("doc_id", F.col("plus2").alias("value_at_2"))
    )


def multi_pass_coalesce(docs: DataFrame) -> DataFrame:
    """W7 relational analogue — the reference's 3-pass vehicle search
    (weighbridge.py:28-81) as an ordered coalesce of strategies:
    (1) token after first 'hash', (2) token after first 'merge',
    (3) first token of the doc."""
    toks = _doc_tokens(docs)
    w = Window.partitionBy("doc_id").orderBy("pos")
    led = toks.withColumn("nxt", F.lead("word").over(w))

    def first_after(label: str) -> DataFrame:
        m = led.filter((F.col("word") == label) & F.col("nxt").isNotNull())
        wl = Window.partitionBy("doc_id").orderBy("pos")
        return (
            m.withColumn("rn", F.row_number().over(wl))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("nxt").alias(f"after_{label}"))
        )

    first_tok = toks.filter(F.col("pos") == 0).select(
        "doc_id", F.col("word").alias("first_word")
    )
    return (
        first_tok.join(first_after("hash"), "doc_id", "left")
        .join(first_after("merge"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("after_hash", "after_merge", "first_word").alias("found"),
            F.when(F.col("after_hash").isNotNull(), 1)
            .when(F.col("after_merge").isNotNull(), 2)
            .otherwise(3)
            .alias("pass_no"),
        )
    )


def orders_by_month(orders: DataFrame) -> DataFrame:
    """F5/F11 date ops: month bucketing + decimal-exact totals."""
    return (
        orders.groupBy(_ts_text(F.col("o_orderdate"), 7).alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(15,4)"))
            .cast("double")
            .alias("total_price"),
        )
    )


def revenue_rollup(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """ROLLUP(region, nation) quantity over ``_star_join`` — hierarchical
    totals in one pass (grouping-sets machinery; subtotal rows carry
    NULLs)."""
    joined = _star_join(lineitem, supplier, nation, region)
    return joined.rollup("r_name", "n_name").agg(
        F.sum(F.col("l_quantity").cast("decimal(15,4)")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_items"),
    )


def format_tons(ev: DataFrame) -> DataFrame:
    """F9/F10 unit formatting: kg→tons with printf formatting
    (weighbridge.py:103 `f"{kg/1000:.3f} Tons"`). Integer-derived
    values only — never exactly at a rounding tie, so C/Java printf
    agree."""
    return (
        ev.select("user_id", _k_prop().alias("k"))
        .groupBy("user_id")
        .agg(F.max("k").alias("max_k"))
        .select(
            "user_id",
            F.format_string("%.3f Tons", F.col("max_k") / F.lit(1000.0)).alias("tons"),
        )
    )


def revenue_cube(lineitem: DataFrame) -> DataFrame:
    """CUBE(returnflag, linestatus) — all grouping-set combinations in
    one pass (rollup's sibling; subtotals carry NULLs)."""
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(15,4)")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_items"),
    )


def sessionize_events(ev: DataFrame) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap to
    the previous event exceeds 30 minutes (lag + cumulative-sum
    windows — the batch formulation of session windows). Output:
    per-user session count and largest session size."""
    # microsecond-precision epoch on BOTH sides (DuckDB twin uses
    # epoch_us): whole-second truncation would disagree with the
    # oracle for gaps within 1s of the boundary
    epoch = _epoch_us(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gapped = ev.withColumn(
        "new_session",
        F.when(
            (epoch - F.lag(epoch).over(w)) > 30 * 60 * 1_000_000,
            1,
        )
        .otherwise(0)
        .cast("int"),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = gapped.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        (F.max("session_id") + 1).cast("int").alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
    )


def skew_report(df: DataFrame, key_col: str, top_n: int = 5) -> DataFrame:
    """Key-skew diagnostic — the report you run BEFORE picking a
    shuffle key, salt count, or bucket width: one row with total rows,
    distinct keys, the heaviest key's count, and the ``top_n``
    heaviest keys serialized as "key:count" (scalar cell — the driver
    surface takes no arrays). ``salted_equijoin``'s n_salts and the
    LSH/posting caps are sized from exactly these numbers.

    Shape: one map-combined groupBy (shuffle = distinct keys), a
    TakeOrderedAndProject for the top-N (no full sort), and an
    all-to-one stats aggregate — safe on any input size. Determinism:
    top-N orders by (count desc, key-as-string asc) and the serialized
    list re-sorts the same way on both engines, a NULL key first among
    equal counts (Spark orders NULLs first, DuckDB last, unless told).
    A NULL key — often exactly the hot key this diagnostic exists to
    surface — is listed as ``null=count``: every other entry is
    ``key:count`` and so holds a ``:``, which this one does not, so no
    string key (``'null'``, ``'<null>'``, ...) can print as it."""
    ks = F.col("k").cast("string")
    c = F.col("c").cast("string")
    entry = F.when(ks.isNull(), F.concat(F.lit("null="), c)).otherwise(
        F.concat(ks, F.lit(":"), c)
    )
    counts = df.groupBy(F.col(key_col).alias("k")).agg(F.count(F.lit(1)).alias("c"))
    stats = counts.agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").alias("max_count"),
    )
    top = counts.orderBy(F.col("c").desc(), ks.asc_nulls_first()).limit(top_n)
    top_str = top.agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("c")).alias("nc"),
                            ks.isNotNull().alias("has_key"),
                            ks.alias("ks"),
                            entry.alias("entry"),
                        )
                    )
                ),
                lambda s: s["entry"],
            ),
            ",",
        ).alias("top_keys")
    )
    return stats.crossJoin(top_str).select(
        F.lit(key_col).alias("key_col"), "n_rows", "n_keys", "max_count", "top_keys"
    )


def salted_equijoin(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    spread_col: str,
    n_salts: int = 8,
) -> DataFrame:
    """Skew-safe shuffle equi-join, the mechanism as a first-class
    operator (the extraction job applies the same idea to its
    repartition, job.py; here it protects a JOIN).

    A hot fact key sends every matching row to ONE reducer in a plain
    shuffle join — the straggler that decides wall-clock at 100 TB.
    Salting splits each fact key into ``n_salts`` sub-keys using a
    row-level column (``spread_col`` — must vary WITHIN a key; a salt
    derived from the key itself would be a no-op) and replicates the
    dim side once per salt, so the hot key's rows land on ``n_salts``
    reducers. Join semantics are untouched: every fact row still meets
    every matching dim row exactly once (it carries one salt; the dim
    copy with that salt is present). The dim side grows ``n_salts``×,
    which is the explicit price — use for key-sized dims too big or
    too dynamic to broadcast outright.

    The ``shuffle_hash`` hint keeps the demo on the shuffle-join path
    (a dim this small would otherwise auto-broadcast, which is the
    right plan when it fits — salting is for when it doesn't).

    ``spread_col`` may be negative or NULL: the salt is ``pmod`` (so
    negatives land in [0, n_salts) instead of the never-matching
    negative range Spark's sign-preserving ``%`` would produce) and
    NULLs coalesce to salt 0 — every fact row keeps exactly one valid
    salt, so no row is silently dropped by the salt equi-key."""
    f = fact.withColumn(
        "_salt",
        F.coalesce(F.pmod(F.col(spread_col), F.lit(n_salts)), F.lit(0)).cast("int"),
    )
    d = dim.withColumnRenamed(dim_key, fact_key).withColumn(
        "_salt", F.explode(F.array(*[F.lit(i).cast("int") for i in range(n_salts)]))
    )
    return f.join(d.hint("shuffle_hash"), [fact_key, "_salt"]).drop("_salt")


def salted_part_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Revenue per part type through the salted join (lineitem ⋈ part
    on partkey, salt spread by l_orderkey). Decimal-exact sums; the
    result is identical to the unsalted join by construction."""
    part = part.select("p_partkey", "p_type")
    j = salted_equijoin(lineitem, part, "l_partkey", "p_partkey", "l_orderkey")
    return (
        j.groupBy("p_type")
        .agg(
            F.sum(_revenue()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_type")
    )


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_point: str,
    right_point: str,
    window_us: int,
    bin_us: int | None = None,
) -> DataFrame:
    """RANGE JOIN via bin bucketing — the scale-safe plan for Spark's
    classic non-equi-join trap. A naive ``r.t >= l.t - W AND r.t <
    l.t`` predicate gives Catalyst no equi-key, so it falls back to a
    broadcast-nested-loop (or worse, a cartesian) — quadratic per key
    and a guaranteed OOM at 100 TB. Binning restores an equi-key: both
    sides bucket their time point into ``bin_us``-wide bins, the left
    side fans out to the two candidate bins covering ``[t-W, t)``
    (``bin_us == window_us`` ⇒ exactly 2), and the exact range
    predicate runs AFTER the hash equi-join, on candidates only.
    Cost: one 2× fan-out of the probe side + one hash shuffle on
    (key, bin) — linear, AQE-skew-splittable, the standard interval-
    join shape (Flink's interval join and range-join hints in
    Databricks Runtime use the same bucketing idea).

    Returns left rows joined to candidate right rows with a
    ``_match`` flag — callers aggregate (count/sum) over the flag so
    zero-match left rows survive (LEFT join semantics preserved).
    """
    if bin_us is None:
        bin_us = window_us
    # candidate bins covering [t-W, t): ceil(W/bin)+1 of them — 2 in
    # the default bin == window case. A smaller bin trades fan-out for
    # tighter candidates (fewer exact-filter misses) on skewed data.
    n_bins = -(-window_us // bin_us)  # ceil
    base = F.floor(F.col(left_point) / F.lit(bin_us))
    lb = left.withColumn(
        "_bin",
        F.explode(F.array(*[base - F.lit(i) for i in range(n_bins + 1)])),
    )
    rb = right.withColumn("_bin", F.floor(F.col(right_point) / F.lit(bin_us)))
    j = lb.join(rb, [key, "_bin"], "left")
    return j.withColumn(
        "_match",
        (F.col(right_point) >= F.col(left_point) - F.lit(window_us))
        & (F.col(right_point) < F.col(left_point)),
    ).drop("_bin")


def clicks_before_purchase(ev: DataFrame) -> DataFrame:
    """Attribution range-join: for every purchase event, how many of
    the same user's clicks landed in the preceding hour. Work in
    integer epoch-microseconds end to end (``_epoch_us`` here,
    ``epoch_us`` in the DuckDB oracle) so the range predicate is
    exact-integer in both engines. The oracle states the naive
    inequality join; this plan is the binned equivalent — identical
    result, linear cost."""
    hour = 3_600_000_000
    us = _epoch_us(F.col("ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", us.alias("p_us")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", us.alias("c_us")
    )
    j = range_join_binned(p, c, "user_id", "p_us", "c_us", hour)
    return j.groupBy("event_id", "user_id").agg(
        F.sum(F.when(F.col("_match"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clicks_prev_hour")
    )


def rolling_user_value(ev: DataFrame) -> DataFrame:
    """Moving-window aggregate per key over the trailing 5 events — the
    rolling-feature shape every event-stream feature pipeline needs
    (trailing spend, rate counters). One shuffle on user_id, then a
    per-user linear frame scan; the frame is row-bounded so per-user
    state is constant in history length. Values go to integer CENTS
    before summing (round(value·100) — double-representable ties don't
    exist at the 3rd decimal) so the window sum is exact-integer and
    independent of both fold order and the engines' float-window
    implementations (Spark's running frame vs DuckDB's segment tree
    would diverge on raw double sums). Total order (ts, event_id) pins frame membership
    under timestamp ties."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-4, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            "ts",
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .withColumn("roll_cents", F.sum("c").over(w))
        .withColumn("n_in_window", F.count("c").over(w))
        .select("event_id", "user_id", "roll_cents", "n_in_window")
    )


def funnel_conversion(ev: DataFrame) -> DataFrame:
    """Funnel analysis: for each user's FIRST signup, did a purchase
    land within 7 days, and how long did it take. The
    first-signup pick is min(struct(ts_us, event_id)) — Spark struct
    ordering is field-wise, identical to the oracle's
    row_number(ORDER BY ts, event_id) = 1 — and all time arithmetic is
    integer epoch-micros. One groupBy per stage + one equi-join on
    user_id; nothing scans event pairs, so cost is linear in events
    regardless of per-user history length."""
    us = _epoch_us(F.col("ts"))
    w_us = 7 * 86_400_000_000
    sig = (
        ev.filter(F.col("event_type") == "signup")
        .select("user_id", F.struct(us.alias("s_us"), "event_id").alias("k"))
        .groupBy("user_id")
        .agg(F.min("k").alias("k"))
        .select(
            "user_id",
            F.col("k.event_id").alias("signup_event"),
            F.col("k.s_us").alias("s_us"),
        )
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("p_us")
    )
    hit = F.when(
        (F.col("p_us") > F.col("s_us")) & (F.col("p_us") <= F.col("s_us") + F.lit(w_us)),
        F.col("p_us"),
    )
    return (
        sig.join(pur, "user_id", "left")
        .groupBy("user_id", "signup_event", "s_us")
        .agg(F.min(hit).alias("c_us"))
        .select(
            "user_id",
            "signup_event",
            F.col("c_us").isNotNull().alias("converted"),
            (F.col("c_us") - F.col("s_us")).cast("bigint").alias("micros_to_convert"),
        )
    )
