"""Transcript inputs.

Two deterministic ways to obtain the canonical transcript table
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` (BASELINE.json:input_hint):

1. ``TRANSCRIPT_VIEW_SPARK`` / ``TRANSCRIPT_VIEW_DUCKDB`` — identical-result
   SQL deriving transcripts from the driver-provided ``events`` parquet.
   Used by the correctness gate so the DuckDB oracle can reproduce every
   query bit-for-bit from the same source parquet (no external data).

2. ``generate_transcripts`` — a seeded numpy generator producing parquet at
   arbitrary scale (FIXTURES.md F1): skewed hot conversations, late events,
   malformed lines, task=done end-of-task markers.  Used by streaming tests
   and bench.py where we need volume and streaming-specific pathologies the
   events-derived view cannot express.

Reference analog: Logstash's generator input
(logstash-core/src/main/java/org/logstash/plugins/inputs/Generator.java:49-87)
— a deterministic synthetic event source used by its own benchmark harness.
"""

from __future__ import annotations

import os

TOOLS = ["search", "browser", "python", "bash", "calculator", "sql", "editor", "retrieval"]

_TOOL_CASE = "\n".join(
    f"        WHEN {i} THEN '{t}'" for i, t in enumerate(TOOLS)
)

# Shared SQL body; {EPOCH} abstracts the one dialect difference we need.
_TRANSCRIPT_BODY = """
WITH numbered AS (
    SELECT
        event_id,
        user_id,
        event_type,
        value,
        ts,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn,
        COUNT(*) OVER (PARTITION BY user_id) AS conv_len
    FROM events
)
SELECT
    CONCAT('conv-', LPAD(CAST(user_id AS {STR}), 6, '0')) AS conv_id,
    CAST(rn AS INT) AS turn_idx,
    CASE CAST(event_id % 3 AS INT)
        WHEN 0 THEN 'user'
        WHEN 1 THEN 'assistant'
        ELSE 'tool'
    END AS role,
    CASE
        WHEN event_id % 47 = 13 THEN CONCAT('RAW|', event_type)
        ELSE CONCAT(
            'status=', CAST(200 + (event_id % 3) * 100 AS {STR}),
            ' bytes=', CAST(FLOOR(value) AS BIGINT),
            ' tool=', CASE WHEN event_id % 3 = 2 THEN CASE CAST(event_id % 8 AS INT)
{TOOL_CASE}
            END ELSE 'none' END,
            ' msg=', event_type,
            CASE WHEN rn = conv_len - 1 THEN ' task=done' ELSE '' END)
    END AS text,
    CASE WHEN event_id % 3 = 2 THEN CASE CAST(event_id % 8 AS INT)
{TOOL_CASE}
    END ELSE NULL END AS tool,
    ts
FROM numbered
"""


def _render(str_type: str) -> str:
    return _TRANSCRIPT_BODY.format(STR=str_type, TOOL_CASE=_TOOL_CASE)


# Spark SQL dialect (CAST AS STRING); `events` must be a registered temp view.
TRANSCRIPT_VIEW_SPARK = _render("STRING")
# DuckDB dialect (CAST AS VARCHAR); `events` is a pre-registered view.
TRANSCRIPT_VIEW_DUCKDB = _render("VARCHAR")

# Reusable CTE header for oracle SQL strings: prefix any oracle query with
# `WITH transcripts AS (<TRANSCRIPT_CTE_DUCKDB>) SELECT ...`.
TRANSCRIPT_CTE_DUCKDB = "(" + TRANSCRIPT_VIEW_DUCKDB + ")"


def register_transcripts(spark, sf_dir: str):
    """Register `events` + derived `transcripts` temp views; return the
    transcripts DataFrame."""
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).createOrReplaceTempView("events")
    df = spark.sql(TRANSCRIPT_VIEW_SPARK)
    df.createOrReplaceTempView("transcripts")
    return df


def oracle_with_transcripts(query: str) -> str:
    """Wrap an oracle SELECT so it sees a `transcripts` CTE (DuckDB).

    If the query already starts with its own WITH clause, merge the CTE
    lists (SQL allows only one WITH keyword per level)."""
    stripped = query.lstrip()
    if stripped.upper().startswith("WITH"):
        rest = stripped[4:].lstrip()
        return f"WITH transcripts AS {TRANSCRIPT_CTE_DUCKDB},\n{rest}"
    return f"WITH transcripts AS {TRANSCRIPT_CTE_DUCKDB}\n{query}"


# ---------------------------------------------------------------------------
# Seeded volume generator (FIXTURES.md F1)
# ---------------------------------------------------------------------------

def generate_transcripts(
    n_turns: int,
    seed: int = 42,
    hot_frac: float = 0.01,
    hot_mult: int = 100,
    base_turns: int = 20,
    malformed_frac: float = 0.02,
    late_frac: float = 0.01,
    conv_offset: int = 0,
):
    """Return a pyarrow Table of ~n_turns synthetic transcript turns.

    Pure function of (n_turns, seed): numpy-vectorized, no Python loops over
    rows.  ~hot_frac of conversations are `hot` with hot_mult x turns to
    exercise skew; ~late_frac of turns have ts earlier than their predecessor
    (watermark/late-data path); ~malformed_frac of texts fail grok.
    """
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    avg = base_turns * (1 - hot_frac) + base_turns * hot_mult * hot_frac
    n_convs = max(int(n_turns / avg), 1)
    is_hot = rng.random(n_convs) < hot_frac
    sizes = np.where(is_hot, base_turns * hot_mult, base_turns).astype(np.int64)
    # jitter sizes +-25%
    sizes = np.maximum(2, (sizes * rng.uniform(0.75, 1.25, n_convs)).astype(np.int64))
    total = int(sizes.sum())

    conv_ord = np.repeat(np.arange(n_convs), sizes)
    turn_idx = (np.arange(total) - np.repeat(np.cumsum(sizes) - sizes, sizes)).astype(np.int32)

    # roles: turn 0 always user, then cycle with jitter
    jitter = rng.integers(0, 3, total)
    role_code = np.where(turn_idx == 0, 0, (turn_idx + jitter) % 3)

    # timestamps: conversation start spread over 30 days; 1-30 s increments
    conv_start = np.int64(1_767_225_600) + (np.arange(n_convs, dtype=np.int64) * 37) % (30 * 86400)
    incr = rng.integers(1, 31, total).astype(np.int64)
    incr[turn_idx == 0] = 0
    ts = np.repeat(conv_start, sizes) + _segmented_cumsum(incr, sizes)
    # late events: shift ts back past the predecessor
    late = rng.random(total) < late_frac
    late &= turn_idx > 1
    ts = np.where(late, ts - rng.integers(40, 120, total), ts)

    status = (200 + (rng.integers(0, 3, total)) * 100).astype(np.int64)
    nbytes = rng.integers(0, 5000, total).astype(np.int64)
    tool_code = rng.integers(0, len(TOOLS), total)
    malformed = rng.random(total) < malformed_frac
    is_last = turn_idx == np.repeat(sizes - 1, sizes)

    tools_arr = np.array(TOOLS)
    tool_str = np.where(role_code == 2, tools_arr[tool_code], "none")
    roles_arr = np.array(["user", "assistant", "tool"])

    # vectorized string assembly via numpy char ops
    A = np.char.add
    text = A(A(A(A(A(A("status=", status.astype("U3")), " bytes="), nbytes.astype("U6")),
                A(" tool=", tool_str.astype("U12"))), " msg="), "turn")
    text = np.where(is_last, A(text, " task=done"), text)
    text = np.where(malformed, A("RAW|", nbytes.astype("U6")), text)

    conv_id = np.char.add("conv-", np.char.zfill((conv_ord + conv_offset).astype("U10"), 10))

    tbl = pa.table(
        {
            "conv_id": pa.array(conv_id),
            "turn_idx": pa.array(turn_idx, type=pa.int32()),
            "role": pa.array(roles_arr[role_code]),
            "text": pa.array(text),
            "tool": pa.array(np.where(role_code == 2, tools_arr[tool_code], None)),
            "ts": pa.array(ts * 1_000_000, type=pa.timestamp("us")),
        }
    )
    return tbl


def _segmented_cumsum(values, sizes):
    """Cumulative sum restarting at each segment boundary (vectorized)."""
    import numpy as np

    csum = np.cumsum(values)
    offsets = np.cumsum(sizes) - sizes
    seg_base = np.repeat(csum[offsets] - values[offsets], sizes)
    return csum - seg_base


# the checkout this package lives in: generated fixtures go to <root>/data
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def default_data_root() -> str:
    """Where generated fixtures are cached: ``$LOGSTASH_SPARK_DATA`` if set,
    else ``data/`` at the root of the checkout this package was imported
    from (so a copy of the repo never writes into another checkout)."""
    return os.environ.get("LOGSTASH_SPARK_DATA") or os.path.join(_REPO_ROOT, "data")


_GEN_CHUNK = 5_000_000   # turns per generator call (bounds numpy peak memory)
_FILE_ROWS = 200_000     # rows per parquet file for parallel scan
_FILES_PER_CHUNK = -(-_GEN_CHUNK // _FILE_ROWS)


def _write_chunk(args) -> int:
    """One generator chunk -> its deterministic slice of parquet files.

    Pure function of (gidx, n): safe to run in any process, in any order —
    output bytes are identical to the serial path."""
    import pyarrow.parquet as pq

    path, gidx, this = args
    tbl = generate_transcripts(this, seed=42 + gidx,
                               conv_offset=gidx * 1_000_000)
    fidx = gidx * _FILES_PER_CHUNK
    i = 0
    while i < tbl.num_rows:
        pq.write_table(tbl.slice(i, _FILE_ROWS),
                       os.path.join(path, f"part-{fidx:05d}.parquet"))
        i += _FILE_ROWS
        fidx += 1
    return tbl.num_rows


def ensure_transcripts_parquet(sf: float, out_root: str | None = None) -> str:
    """Generate-and-cache transcript parquet for a scale factor, under
    ``out_root`` (default: ``default_data_root()``).

    sf=0.1 -> ~1M turns (10M turns per sf unit), written as multiple parquet
    files so local Spark gets parallel scan partitions.  Chunks are
    generated in parallel processes; each chunk owns a disjoint conv_id
    range (sessions never span chunks) and a fixed seed + file-index range,
    so the output is byte-identical at any worker count.
    """
    n_turns = int(sf * 10_000_000)
    path = os.path.join(out_root or default_data_root(), f"transcripts_sf{sf}")
    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker):
        return path
    os.makedirs(path, exist_ok=True)
    jobs = []
    remaining, gidx = n_turns, 0
    while remaining > 0:
        this = min(_GEN_CHUNK, remaining)
        jobs.append((path, gidx, this))
        remaining -= this
        gidx += 1
    if len(jobs) == 1:
        _write_chunk(jobs[0])
    else:
        from concurrent.futures import ProcessPoolExecutor

        workers = min(len(jobs), max((os.cpu_count() or 8) // 2, 1))
        with ProcessPoolExecutor(max_workers=workers) as ex:
            list(ex.map(_write_chunk, jobs))
    with open(marker, "w") as f:
        f.write("ok")
    return path


def ensure_transcripts_tsorted(spark, sf: float,
                               out_root: str | None = None,
                               n_files: int | None = None) -> str:
    """Delivery-ordered replay variant of the SF fixture (live-stream shape).

    A live stream delivers events roughly in event-time order; the base
    fixture's files are conv-contiguous instead (conv start times cycle),
    which makes an incremental-watermark replay drop almost everything as
    late.  This derives a deterministic variant ordered by DELIVERY time =
    running max(ts) within each conversation (so the generator's
    late-turn pathology — ts stepping backwards mid-conversation — is
    preserved relative to the watermark, bounded by its 40-120 s skew),
    range-partitioned into globally ordered files with file mtimes pinned
    ascending (the file source orders its queue by mtime).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    out_root = out_root or default_data_root()
    src = ensure_transcripts_parquet(sf, out_root)
    path = os.path.join(out_root, f"transcripts_sf{sf}_tsorted")
    # Done-marker must be distinct from Spark's _SUCCESS: the parquet write
    # creates _SUCCESS BEFORE the mtime-pinning loop below, so a crash in
    # between would leave a fixture that passes an _SUCCESS check with
    # unpinned mtimes, silently breaking delivery-ordered replay (ADVICE r1).
    marker = os.path.join(path, "_READY")
    if os.path.exists(marker):
        return path
    if n_files is None:
        n_files = max(len([f for f in os.listdir(src) if f.endswith(".parquet")]), 1)
    w = (Window.partitionBy("conv_id").orderBy("turn_idx")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    (spark.read.parquet(src)
     .withColumn("__delivery", F.max("ts").over(w))
     .repartitionByRange(n_files, "__delivery")
     .sortWithinPartitions("__delivery")
     .drop("__delivery")
     .write.mode("overwrite").parquet(path))
    # pin mtimes ascending in partition order: range partition i of the
    # write is file part-0000i-*, so name order == delivery order
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    base = int(os.path.getmtime(os.path.join(path, files[0]))) if files else 0
    for i, f in enumerate(files):
        os.utime(os.path.join(path, f), (base + i, base + i))
    with open(marker, "w") as fh:
        fh.write("ok")
    return path


def generator_input_stream(spark, rows_per_second: int = 10_000,
                           n_tools: int | None = None):
    """Generator-input analog (reference: in-core Generator.java:49-87 —
    a synthetic event source used by its own benchmark harness).

    Built on Spark's rate source: each tick row is mapped to a transcript
    turn with pure Column expressions (conv assignment, role cycle, text
    assembly) — an infinite deterministic-shape stream for soak/bench runs
    without any files.  Returns a streaming DataFrame with the canonical
    transcript schema.
    """
    from pyspark.sql import functions as F

    tools = TOOLS[:n_tools] if n_tools else TOOLS
    tool_arr = F.array(*[F.lit(t) for t in tools])
    src = (spark.readStream.format("rate")
           .option("rowsPerSecond", rows_per_second).load())
    v = F.col("value")
    conv = F.concat(F.lit("conv-"), F.lpad((v / 20).cast("long").cast("string"), 10, "0"))
    turn_idx = F.pmod(v, F.lit(20)).cast("int")
    role = F.element_at(F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
                        F.pmod(v, F.lit(3)).cast("int") + 1)
    tool = F.when(F.pmod(v, F.lit(3)) == 2,
                  F.element_at(tool_arr, F.pmod(v, F.lit(len(tools))).cast("int") + 1))
    status = (200 + F.pmod(v, F.lit(3)) * 100).cast("long")
    nbytes = F.pmod(v * 2654435761, F.lit(5000)).cast("long")
    text = F.concat(
        F.lit("status="), status.cast("string"),
        F.lit(" bytes="), nbytes.cast("string"),
        F.lit(" tool="), F.coalesce(tool, F.lit("none")),
        F.lit(" msg=turn"),
        F.when(turn_idx == 19, F.lit(" task=done")).otherwise(F.lit("")))
    return src.select(
        conv.alias("conv_id"), turn_idx.alias("turn_idx"), role.alias("role"),
        text.alias("text"), tool.alias("tool"), F.col("timestamp").alias("ts"))
