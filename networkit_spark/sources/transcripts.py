"""Transcripts input layer — the engine's primary input shape
(BASELINE.json input_hint):

    (conv_id: string, turn_idx: int, role: string, text: string,
     tool: string, ts: timestamp)

plus the two derived edge tables (FIXTURES.md §2), built with
window-ordered turn adjacency:
  * agent→tool reply graph: assistant turn whose next row in its conv (by
    turn_idx) is a tool turn ⇒ edge(agent_entity → tool_entity), weight =
    multiplicity
  * conv→conv graph: per entity, consecutive distinct conv_ids ordered by ts

Synthesis is DETERMINISTIC via a pure-integer LCG
    lcg(x) = (x * 1103515245 + 12345) mod 2^31
computed with BIGINT arithmetic only — no RNG state, no engine-specific
hash — so the exact same rows can be produced by any ANSI SQL engine
(the DuckDB oracle in __spark_entry__ mirrors these expressions verbatim).
Tool vocabulary is intentionally skewed (one dominant 'search' hub) to
exercise hub-vertex salting, per FIXTURES.md.

At 10^12-turn scale the same program applies unchanged: spark.range is an
embarrassingly parallel source, every derivation is a window or groupBy on
conv_id / entity keys, and the id dictionary is |entities|-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

LCG_A = 1103515245
LCG_C = 12345
LCG_M = 2147483648  # 2^31
MAX_TURNS = 32
BASE_TS = "2024-01-01 00:00:00"

# skewed tool vocabulary: pct buckets (dominant hub first)
TOOL_BUCKETS = [
    (50, "search"),   # 0-49  : the mega-hub
    (70, "python"),   # 50-69
    (85, "browser"),  # 70-84
    (95, "calc"),     # 85-94
    (100, "sql"),
]


def _lcg(col):
    # pre-mod the input so (x % M) * A < 2^63 for ANY x — identical overflow-
    # free arithmetic in Spark and DuckDB BIGINT
    return ((col % F.lit(LCG_M)) * F.lit(LCG_A) + F.lit(LCG_C)) % F.lit(LCG_M)


def synthesize_transcripts(spark: SparkSession, n_convs: int) -> DataFrame:
    """Deterministic synthetic transcripts table.

    Row recipe (mirrored in SQL by transcripts_sql()):
      n_turns(c)  = 2 + lcg(c*7919+1) % 31          (2..32)
      role(i)     = user / assistant / tool / assistant for i mod 4 = 0/1/2/3
      agent(c)    = 'agent_' || lcg(c*13+5) % 50
      tool(c,i)   = skewed bucket of lcg(c*31+i) % 100   (role='tool' only)
      text(c,i)   = 'msg_<conv>_<i>_<lcg(c*1000003+i) % 997>'
      ts(c,i)     = BASE_TS + c*3600 + i*60 + lcg(c*17+i*3) % 30 seconds
    ts is strictly increasing within a conversation (60s step > 30s jitter).
    """
    convs = spark.range(n_convs).select(F.col("id").alias("c"))
    turns = spark.range(MAX_TURNS).select(F.col("id").alias("i"))
    df = convs.crossJoin(turns)
    n_turns = (F.lit(2) + _lcg(F.col("c") * 7919 + 1) % F.lit(31)).alias("n_turns")
    df = df.withColumn("n_turns", n_turns).filter(F.col("i") < F.col("n_turns"))

    role = (
        F.when(F.col("i") % 4 == 0, "user")
        .when(F.col("i") % 4 == 2, "tool")
        .otherwise("assistant")
    )
    tool_r = _lcg(F.col("c") * 31 + F.col("i")) % F.lit(100)
    tool = F.lit(None).cast("string")
    prev = 0
    expr = None
    for hi, name in TOOL_BUCKETS:
        cond = (tool_r >= prev) & (tool_r < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        prev = hi
    tool = F.when(role == "tool", expr).otherwise(F.lit(None).cast("string"))

    text = F.concat(
        F.lit("msg_"),
        F.lpad(F.col("c").cast("string"), 6, "0"),
        F.lit("_"),
        F.col("i").cast("string"),
        F.lit("_"),
        (_lcg(F.col("c") * 1000003 + F.col("i")) % F.lit(997)).cast("string"),
    )
    ts_off = (
        F.col("c") * 3600 + F.col("i") * 60 + _lcg(F.col("c") * 17 + F.col("i") * 3) % F.lit(30)
    )
    ts = F.to_timestamp(F.lit(BASE_TS)) + F.make_dt_interval(secs=ts_off.cast("double"))

    return df.select(
        F.concat(F.lit("conv_"), F.lpad(F.col("c").cast("string"), 6, "0")).alias(
            "conv_id"
        ),
        F.col("i").cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
        ts_off.cast("long").alias("ts_off"),
        F.concat(F.lit("agent_"), (_lcg(F.col("c") * 13 + 5) % F.lit(50)).cast("string")).alias(
            "agent"
        ),
    )


def transcripts_sql(n_convs: int) -> str:
    """DuckDB SQL producing EXACTLY the rows of synthesize_transcripts
    (minus the helper `agent` column recomputable from conv_id)."""
    return f"""
    WITH convs AS (SELECT range AS c FROM range(0, {n_convs})),
    turns AS (SELECT range AS i FROM range(0, {MAX_TURNS})),
    raw AS (
      SELECT c, i,
             2 + ((c*7919 + 1) % {LCG_M} * {LCG_A} + {LCG_C}) % {LCG_M} % 31 AS n_turns
      FROM convs CROSS JOIN turns
    ),
    t AS (SELECT * FROM raw WHERE i < n_turns)
    SELECT
      'conv_' || lpad(CAST(c AS VARCHAR), 6, '0') AS conv_id,
      CAST(i AS INTEGER) AS turn_idx,
      CASE WHEN i % 4 = 0 THEN 'user'
           WHEN i % 4 = 2 THEN 'tool'
           ELSE 'assistant' END AS role,
      'msg_' || lpad(CAST(c AS VARCHAR), 6, '0') || '_' || CAST(i AS VARCHAR)
        || '_' || CAST(((c*1000003 + i) % {LCG_M} * {LCG_A} + {LCG_C}) % {LCG_M} % 997 AS VARCHAR) AS text,
      CASE WHEN i % 4 = 2 THEN
        CASE
          WHEN ((c*31 + i) % {LCG_M} * {LCG_A} + {LCG_C}) % {LCG_M} % 100 < 50 THEN 'search'
          WHEN ((c*31 + i) % {LCG_M} * {LCG_A} + {LCG_C}) % {LCG_M} % 100 < 70 THEN 'python'
          WHEN ((c*31 + i) % {LCG_M} * {LCG_A} + {LCG_C}) % {LCG_M} % 100 < 85 THEN 'browser'
          WHEN ((c*31 + i) % {LCG_M} * {LCG_A} + {LCG_C}) % {LCG_M} % 100 < 95 THEN 'calc'
          ELSE 'sql'
        END
      ELSE NULL END AS tool,
      TIMESTAMP '{BASE_TS}'
        + to_seconds(c*3600 + i*60 + ((c*17 + i*3) % {LCG_M} * {LCG_A} + {LCG_C}) % {LCG_M} % 30) AS ts,
      CAST(c*3600 + i*60 + ((c*17 + i*3) % {LCG_M} * {LCG_A} + {LCG_C}) % {LCG_M} % 30 AS BIGINT) AS ts_off,
      'agent_' || CAST(((c*13 + 5) % {LCG_M} * {LCG_A} + {LCG_C}) % {LCG_M} % 50 AS VARCHAR) AS agent
    FROM t
    """


# --------------------------------------------------------------- derivations
def reply_pairs(transcripts: DataFrame) -> DataFrame:
    """(agent_key, tool_key, weight): an assistant turn whose NEXT row of
    the same conv, by turn_idx order (`LEAD`, not turn_idx+1: a gap in the
    turn numbers still pairs), is a tool turn — window-ordered turn
    adjacency, weight = multiplicity."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = transcripts.withColumn("next_role", F.lead("role").over(w)).withColumn(
        "next_tool", F.lead("tool").over(w)
    )
    pairs = t.filter(
        (F.col("role") == "assistant") & (F.col("next_role") == "tool")
    ).select(
        F.col("agent").alias("agent_key"),
        F.col("next_tool").alias("tool_key"),
    )
    return pairs.groupBy("agent_key", "tool_key").agg(
        F.count("*").cast("double").alias("weight")
    )


def mint_ids(pairs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Mint long node ids = dense rank of sorted entity keys (FIXTURES §2);
    agents and tools share one dictionary. Returns (vertices(id,
    entity_key), edges(src,dst,weight)).

    The rank is the two-stage scale-safe global_row_numbers (range-
    repartition + per-partition row_number + partition offsets), NOT a
    single-partition `Window.orderBy` — this is the input layer, the one
    path guaranteed to see the full 10^12-turn entity dictionary.

    `pairs` feeds both sides of the entity union and the edge join, so it
    is materialized once here instead of being re-derived per consumer."""
    from networkit_spark.plans.ranking import global_row_numbers

    pairs = pairs.localCheckpoint(eager=False)
    entities = (
        pairs.select(F.col("agent_key").alias("entity_key"))
        .union(pairs.select(F.col("tool_key").alias("entity_key")))
        .distinct()
    )
    vertices = global_row_numbers(entities, ["entity_key"], out_col="id").select(
        "id", "entity_key"
    )
    src_map = vertices.select(
        F.col("entity_key").alias("agent_key"), F.col("id").alias("src")
    )
    dst_map = vertices.select(
        F.col("entity_key").alias("tool_key"), F.col("id").alias("dst")
    )
    edges = (
        pairs.join(src_map, "agent_key")
        .join(dst_map, "tool_key")
        .select("src", "dst", "weight")
    )
    return vertices, edges


def conv_adjacency_edges(transcripts: DataFrame) -> DataFrame:
    """conv→conv graph (FIXTURES §2): per entity (tool name, or agent on
    assistant turns), order appearances by (ts, conv_id, turn_idx);
    consecutive DISTINCT conv_ids ⇒ edge, weight = multiplicity.
    Returns (src_conv, dst_conv, weight) keyed by conv_id strings."""
    ent = transcripts.select(
        F.when(F.col("role") == "tool", F.col("tool"))
        .when(F.col("role") == "assistant", F.col("agent"))
        .alias("entity"),
        "conv_id",
        "ts",
        "turn_idx",
    ).filter(F.col("entity").isNotNull())
    w = Window.partitionBy("entity").orderBy("ts", "conv_id", "turn_idx")
    nxt = ent.withColumn("next_conv", F.lead("conv_id").over(w))
    pairs = nxt.filter(
        F.col("next_conv").isNotNull() & (F.col("next_conv") != F.col("conv_id"))
    )
    return pairs.groupBy(
        F.col("conv_id").alias("src_conv"), F.col("next_conv").alias("dst_conv")
    ).agg(F.count("*").cast("double").alias("weight"))
