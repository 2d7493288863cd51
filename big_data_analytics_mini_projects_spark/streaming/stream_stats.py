"""Structured Streaming flavors of the sampler/stats operators
(SURVEY.md §2.11).

The reference 'streams' by reading a file once and updating (n, mean, M2) in
a loop under no-buffering rules (sampler_v02.py:63-87). The engine's
streaming surface is real Structured Streaming over the events table:

- global (n, mean, σ_pop) as an `update`-mode aggregation — state is one row
  of sufficient statistics, the Welford triple generalized to batch merges;
- stateless hash-bucket entity sampling (a pure filter: works on an
  unbounded stream by construction — the reference's key argument);
- watermarked tumbling-window counts for event-time aggregation with
  late-data tolerance (beyond the reference, the standard 100 TB/day shape).

Batch≡stream: every flavor here has a batch twin in plans/samplingq.py and
the equivalence is asserted in tests/test_streaming.py via availableNow
triggers (the reference defines stream results as equal to the one-pass
batch result over the same file — SURVEY.md §2.11).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.hashing import hex_bucket
from ..functions.text import round_stable, tokens
from ..operators.aggregates import dsum
from ..session import ensure_runtime_confs


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (schema pinned from a batch read;
    ts arrives as long nanos under the nanosAsLong conf and is normalized to
    ts_us + a timestamp column, as in sources/tables.py)."""
    ensure_runtime_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    sdf = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    dtypes = dict(sdf.dtypes)
    if dtypes.get("ts") == "bigint":
        sdf = sdf.withColumn("ts_us", F.expr("ts div 1000")).withColumn(
            "ts", F.timestamp_micros(F.col("ts_us"))
        )
    elif dtypes.get("ts") == "timestamp_ntz":
        # naive micros, "as if UTC" (see sources/tables.py): epoch under the
        # pinned UTC session tz, then a TIMESTAMP column for watermarks.
        sdf = sdf.withColumn(
            "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
        ).withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    else:
        sdf = sdf.withColumn("ts_us", F.unix_micros(F.col("ts")))
    return sdf


def stream_global_stats(events: DataFrame) -> DataFrame:
    """Global (n, n_users approx excluded, mean, σ_pop) over the stream —
    exact decimal sufficient statistics, same expression as the batch twin."""
    n = F.count(F.lit(1))
    s1 = dsum("value", 2)
    s2 = dsum(F.col("value") * F.col("value"), 4)
    mean = s1 / n
    return events.agg(
        n.alias("n"),
        round_stable(mean).alias("mean"),
        round_stable(F.sqrt(s2 / n - mean * mean)).alias("std"),
    )


def stream_hashbucket_sample(events: DataFrame) -> DataFrame:
    """Stateless entity-complete sampler: the one-pass streaming sampler
    (sampler_v02.py:63-87) as a pure pushdown filter."""
    return events.filter(hex_bucket(F.col("user_id"), 1, "hb") == "0")


def stream_hourly_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling 1h window counts + value sums per event_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", 2).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stream_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful per-key streaming operator via applyInPandasWithState:
    per user_id, maintain (n, total_cents) across micro-batches and emit the
    updated running stats on every batch — the arbitrary-stateful-operator
    shape (session counters, per-entity accumulators) that windowed aggs
    can't express.

    Determinism engineering: state is INTEGER cents (floor(value*100 + 0.5),
    same expression as the batch/oracle twins), so accumulation order across
    batches cannot perturb the result; the mean is one double division at
    emission. State per key is two longs — at 100 TB the state store scales
    with distinct users, not events, and RocksDB-backed state + changelog
    checkpointing is a config, not a code change.
    """
    import pandas as pd  # local: Arrow path only materializes on executors
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import numpy as np

        if state.exists:
            n, cents = state.get
        else:
            n, cents = 0, 0
        for pdf in pdfs:
            n += len(pdf)
            cents += int(np.floor(pdf["value"].to_numpy() * 100 + 0.5).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n": [n],
                "total_cents": [cents],
                "mean": [cents / 100.0 / n],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id long, n long, total_cents long, mean double",
        "n long, cents long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def run_available_now(sdf: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Execute a streaming frame to completion over the available data
    (availableNow trigger -> memory sink) and return the result as a batch
    DataFrame — the batch≡stream harness."""
    name = f"bdamp_stream_{uuid.uuid4().hex[:12]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


def stream_purchase_context_pairs(events: DataFrame) -> DataFrame:
    """Stream-stream interval self-join: (purchase, view) pairs where the view
    happened in the 30 minutes before the purchase by the same user — the
    streaming twin of plans/relationalx.range_join_purchase_context.

    Both sides carry watermarks and the join condition bounds event time on
    both sides, so Spark can size the join state: each side buffers only rows
    younger than watermark + 30 min, and append-mode emits a pair the moment
    both rows exist. State is O(recent window), not O(stream) — the property
    that makes the join runnable forever at 100 TB/day.
    """
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    v = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    return p.join(
        v,
        F.expr(
            "p_user = v_user AND v_ts >= p_ts - INTERVAL 30 MINUTES AND v_ts < p_ts"
        ),
    ).select("purchase_id", "view_id")


def stream_dedup_doubled(events: DataFrame) -> DataFrame:
    """Watermarked streaming dedup: the stream unioned with itself (every
    record duplicated) then dropDuplicatesWithinWatermark(event_id) — the
    streaming flavor of exact dedup. Dedup state expires as the watermark
    passes, so state is bounded by the duplicate-arrival window, not the
    stream length (vs dropDuplicates, whose state grows forever)."""
    doubled = events.select("event_id", "user_id", "event_type", "value", "ts").union(
        events.select("event_id", "user_id", "event_type", "value", "ts")
    )
    return (
        doubled.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )


def stream_scd2_intervals(events: DataFrame) -> DataFrame:
    """Streaming SCD2: the gaps-and-islands interval build (plans/corpusq.
    scd2_user_event_intervals) as a custom stateful operator — per user the
    state is ONE open run (current event_type, its start, row count, next
    seq); each micro-batch extends or closes runs and emits only the CLOSED
    intervals (append semantics: an emitted interval is immutable, exactly
    what a warehouse SCD2 sink wants).

    Scale/determinism engineering:
    - state per key is (string, 3 longs) — grows with distinct users, not
      events; run-length encoding inside the batch is vectorized numpy over
      the Arrow batch, not a per-row Python loop;
    - rows are processed in (ts_us, event_id) order inside each batch, so
      results equal the batch twin whenever batches respect event-time
      order per key (with availableNow over one file: exactly one batch);
    - the open tail run stays in state and is never emitted — the batch
      twin's to_us = -1 rows — asserted in tests/test_streaming.py.
    """
    import pandas as pd  # local: Arrow path only materializes on executors
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import numpy as np

        batch = pd.concat(list(pdfs), ignore_index=True)
        out_cols = ("user_id", "seq", "event_type", "from_us", "to_us", "n_rows")
        if len(batch) == 0:
            yield pd.DataFrame(columns=out_cols)
            return
        batch = batch.sort_values(["ts_us", "event_id"], kind="mergesort")
        ts = batch["ts_us"].to_numpy(dtype="int64")
        et = batch["event_type"].to_numpy(dtype=object)
        if state.exists:
            cur, start, n_open, seq = state.get
            ts = np.concatenate([np.array([start], dtype="int64"), ts])
            et = np.concatenate([np.array([cur], dtype=object), et])
            carried = n_open - 1  # the injected row stands in for n_open rows
        else:
            seq, carried = 1, 0
        # Run-length encode: starts of each run of equal event_type.
        change = np.flatnonzero(et[1:] != et[:-1]) + 1
        starts = np.concatenate([np.array([0]), change])
        lengths = np.diff(np.concatenate([starts, [len(et)]]))
        lengths[0] += carried
        n_closed = len(starts) - 1
        closed = pd.DataFrame(
            {
                "user_id": np.full(n_closed, key[0], dtype="int64"),
                "seq": np.arange(seq, seq + n_closed, dtype="int64"),
                "event_type": et[starts[:-1]],
                "from_us": ts[starts[:-1]],
                "to_us": ts[starts[1:]] - 1,
                "n_rows": lengths[:-1].astype("int64"),
            }
        )
        state.update(
            (
                str(et[starts[-1]]),
                int(ts[starts[-1]]),
                int(lengths[-1]),
                int(seq + n_closed),
            )
        )
        yield closed

    return (
        events.select("user_id", "event_id", "ts_us", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            "user_id long, seq long, event_type string, from_us long, "
            "to_us long, n_rows long",
            "cur string, start long, n_open long, seq long",
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet (schema pinned from a batch
    read) — the corpus-as-a-stream source for the streaming curation twins."""
    ensure_runtime_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stream_token_budget(docs: DataFrame, budget: int) -> DataFrame:
    """Stateful streaming per-domain token-budget sampler
    (applyInPandasWithState, append mode): the streaming twin of
    plans/round6q.token_budget_sample.

    Per source the state is ONE long — the cumulative token count over every
    doc seen so far (accepted or not: the batch twin's window sums all docs
    in hash order, so the kept set is the longest prefix whose running sum
    fits the budget). Each micro-batch sorts its rows by the same seeded
    (h, doc_id) key the batch twin orders by, extends the running sum, and
    append-emits the docs that still fit. Over an availableNow run the whole
    table arrives as one batch per key, so stream output == batch output
    bit-for-bit; on a live stream the semantics are "hash-ordered within
    each arrival window, budget carried across windows" — state stays one
    counter per domain at any corpus size, and tokenization/hashing run
    JVM-side before the Arrow hop (pandas only sorts and cumsums)."""
    import pandas as pd  # local: Arrow path only materializes on executors
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..functions.hashing import h64

    t = docs.select(
        "source",
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_tok"),
        h64("doc_id", "tb").alias("h"),
    )

    def update(key, pdfs, state):
        used = state.get[0] if state.exists else 0
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["h", "doc_id"], kind="mergesort")
        cum = used + pdf["n_tok"].cumsum()
        keep = cum <= budget
        state.update((int(used + pdf["n_tok"].sum()),))
        yield pd.DataFrame(
            {
                "source": pdf.loc[keep, "source"].astype(str),
                "doc_id": pdf.loc[keep, "doc_id"].astype("int64"),
                "n_tok": pdf.loc[keep, "n_tok"].astype("int64"),
                "cum_tok": cum[keep].astype("int64"),
            }
        )

    return t.groupBy("source").applyInPandasWithState(
        update,
        "source string, doc_id long, n_tok long, cum_tok long",
        "used long",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def stream_source_token_totals(docs: DataFrame) -> DataFrame:
    """Stateful streaming per-source token-total tracker
    (applyInPandasWithState, append mode): the stateful head of the
    temperature-mix streaming twin (plans/round13q.streaming_mix_shares).

    Per source the state is ONE long — the cumulative whitespace-token
    count over every doc seen so far. Each micro-batch folds its rows in
    and append-emits ONE refreshed (source, m) total per touched domain:
    the per-batch share-drift feed (the dimension-scale mix computation
    downstream re-derives the alpha-sweep shares from these totals, so a
    live stream yields a share TIME SERIES as sources grow at different
    rates). Over an availableNow run the whole table arrives as one batch
    per key, so the emitted frame is exactly the batch twin's per-source
    totals bit-for-bit. Tokenization runs JVM-side before the Arrow hop
    (pandas only sums a long column); state is one counter per domain at
    any corpus size. NULL-source parity with stream_domain_drift: the
    batch twin's GROUP BY source keeps a NULL group only if the documents
    table carries one — it does not, and the shared oracle text groups the
    same way, so no filter is needed here; a NULL key would round-trip as
    its own state group identically in both twins."""
    import pandas as pd  # local: Arrow path only materializes on executors
    from pyspark.sql.streaming.state import GroupStateTimeout

    t = docs.select(
        "source",
        F.size(tokens("text")).cast("long").alias("n_tok"),
    )

    def update(key, pdfs, state):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += int(pdf["n_tok"].sum())
        state.update((int(total),))
        yield pd.DataFrame({"source": [key[0]], "m": [int(total)]})

    return t.groupBy("source").applyInPandasWithState(
        update,
        "source string, m long",
        "m long",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def stream_domain_drift(docs: DataFrame) -> DataFrame:
    """Stateful streaming per-domain language-drift monitor
    (applyInPandasWithState, append mode): the streaming twin of
    plans/round7q.domain_lang_drift.

    Per source the state is the per-language count vector of the two seeded
    snapshot halves, carried as a sorted-keys JSON string ``{lang: [ca, cb]}``
    — O(languages) per domain, independent of corpus size. Each micro-batch
    folds its rows into the state and append-emits ONE refreshed monitor row
    per touched domain: the exact integer-arithmetic total-variation distance
    sum|ca*nb - cb*na| / (2*n_a*n_b) the batch twin computes (one double
    division + the shared half-up rounding at the end, so accumulation order
    cannot perturb the value). Over an availableNow run the whole table
    arrives as one batch per key, so stream output == the batch query
    bit-for-bit; on a live stream each batch appends the updated drift row —
    a per-domain drift TIME SERIES, which is the alerting shape a
    continuously-ingesting crawl pipeline actually wants. Hashing runs
    JVM-side before the Arrow hop (pandas only counts and folds)."""
    import json
    import math

    import pandas as pd  # local: Arrow path only materializes on executors
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..functions.hashing import h64

    # NULL-source parity (round-6 ADVICE): the batch twin and the shared
    # SQL_DOMAIN_DRIFT oracle drop NULL-source rows at their
    # `g JOIN t USING (source)` step, while a Spark groupBy would keep NULL
    # as a state key and emit a drift row for it. Filter to match the join
    # semantics (NULL lang, by contrast, IS a counted group — see the \x00
    # sentinel below).
    t = docs.where(F.col("source").isNotNull()).select(
        "source", "lang", (h64("doc_id", "snap") % 2).alias("b")
    )

    def update(key, pdfs, state):
        counts: dict[str, list[int]] = (
            json.loads(state.get[0]) if state.exists else {}
        )
        for pdf in pdfs:
            # dropna defaults to True and would silently drop NULL-lang rows
            # that the batch twin's GROUP BY counts as their own group; the
            # \x00 sentinel keys that group in the JSON state (no real lang
            # code can contain a NUL byte)
            g = pdf.fillna({"lang": "\x00<null>"}).groupby(["lang", "b"]).size()
            for (lang, b), c in g.items():
                cell = counts.setdefault(str(lang), [0, 0])
                cell[int(b)] += int(c)
        state.update((json.dumps(counts, sort_keys=True),))
        n_a = sum(v[0] for v in counts.values())
        n_b = sum(v[1] for v in counts.values())
        if n_a == 0 or n_b == 0:
            return  # batch twin filters these out; emit nothing this batch
        num = sum(abs(v[0] * n_b - v[1] * n_a) for v in counts.values())
        tvd = num / (2.0 * n_a * n_b)  # same op order as the batch twin
        tvd = math.floor(tvd * 10000 + 0.5) / 10000  # round_stable(4)
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "n_a": [n_a],
                "n_b": [n_b],
                "n_langs": [len(counts)],
                "tvd": [tvd],
            }
        )

    return t.groupBy("source").applyInPandasWithState(
        update,
        "source string, n_a long, n_b long, n_langs long, tvd double",
        "counts string",
        "append",
        GroupStateTimeout.NoTimeout,
    )


#: Watermark delay of the late-data drop-accounting query (streaming_
#: late_data_drop) — shared by the replay source, the registered query, and
#: the oracle's integer-arithmetic mirror.
LATE_DELAY = "2 hours"
LATE_DELAY_MS = 7_200_000
LATE_BUCKETS = 3


def events_replay_files(spark: SparkSession, sf_dir: str) -> str:
    """Write (or rewrite) the three mtime-ordered replay files for
    :func:`events_replay_stream` and return the stream directory. Split out
    so a query comparing several watermark settings (plans/round11q.py
    watermark_sensitivity_hourly) pays the 3-pass table write ONCE and opens
    one independent stream per setting over the same files."""
    import glob
    import os
    import shutil

    ensure_runtime_confs(spark)
    from ..functions.hashing import h64
    from ..plans.shared import reset_scratch, scratch_path
    from ..sources.tables import load_table

    base = scratch_path("late_replay", sf_dir)
    reset_scratch(base)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "ts_us",
        (h64("event_id", "late") % LATE_BUCKETS).alias("b"),
    )
    stream_dir = os.path.join(base, "stream")
    os.makedirs(stream_dir)
    for b in range(LATE_BUCKETS):
        part_dir = os.path.join(base, f"part{b}")
        ev.filter(F.col("b") == b).drop("b").coalesce(1).write.mode(
            "overwrite"
        ).parquet(part_dir)
        src = glob.glob(os.path.join(part_dir, "part-*.parquet"))[0]
        dst = os.path.join(stream_dir, f"{b}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (1000.0 * (b + 1), 1000.0 * (b + 1)))
    return stream_dir


def open_replay_stream(spark: SparkSession, stream_dir: str) -> DataFrame:
    """Open a fresh file-replay stream over an :func:`events_replay_files`
    directory (each call is an independent stream: its own file tracking,
    its own watermark)."""
    schema = spark.read.parquet(stream_dir).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(stream_dir)
    )
    return sdf.withColumn("ts", F.timestamp_micros(F.col("ts_us")))


def events_replay_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-file deterministic replay of the events table — the multi-batch
    source that makes WATERMARK LATE-DATA SEMANTICS observable (a single-file
    availableNow run is always one data batch, so nothing is ever late).

    The table is split by ``h64(event_id, 'late') % 3`` into three parquet
    files written under the scratch root with strictly increasing pinned
    mtimes; ``maxFilesPerTrigger=1`` + ``latestFirst=false`` then replays
    them as three ordered micro-batches (FileStreamSource orders by
    modification time). Bucket 0 is "the bulk load", buckets 1 and 2 are
    two straggler trickles that arrive after the watermark has moved.
    Timestamps travel as ``ts_us`` longs (no parquet-timestamp re-encoding
    ambiguity) and ``ts`` is rebuilt on the stream side. The split is a
    3-pass write here for construction simplicity; a production replay
    harness would write all shards in one partitionBy pass."""
    return open_replay_stream(spark, events_replay_files(spark, sf_dir))


#: Inactivity gap for the watermark-evicted streaming sessionizer — same
#: 10 minutes as the batch session_windows_users query (plans/samplingq.py;
#: defined here registration-free so plan modules can share it without
#: dragging samplingq's registrations forward in the catalog).
SESSIONS_GAP_US = 600_000_000


def stream_sessions_closed(events: DataFrame) -> DataFrame:
    """Stateful streaming sessionization with WATERMARKED EVICTION
    (applyInPandasWithState + EventTimeTimeout, append mode): per user the
    open session lives in 4-long state; a session is emitted when it CLOSES,
    which happens two ways —

    - ``closed_by = 'event'``: the user's next event arrives >= 10 min after
      the session's last event (the batch gap rule, ``t - lag(t) >= GAP``);
    - ``closed_by = 'timeout'``: the EVENT-TIME watermark passes the open
      session's timeout (last event + gap) — idle state is EVICTED instead
      of accumulating forever, the property that bounds state size on an
      unbounded stream where users go quiet.

    Timeout boundary semantics (pinned empirically, tests/test_round8q.py):
    Spark floors event-time micros to ms for the watermark, and an
    event-time timeout fires iff ``timeout_ms < watermark_ms`` STRICTLY;
    with ``withWatermark(ts, '0 seconds')`` the final availableNow no-data
    batch runs with watermark_ms = floor(max_event_us / 1000). The operator
    sets ``timeout_ms = (last_us + gap_us) // 1000``, so an open session is
    evicted iff ``(last_us + gap) // 1000 < gmax_us // 1000`` — exactly the
    integer-arithmetic predicate the DuckDB oracle runs.

    Determinism contract: the registered query reads the single-file events
    source, so availableNow delivers ONE data batch (each user's rows fold
    in one sorted pass) plus the final timeout batch. On a genuinely
    multi-batch live stream the emitted SESSIONS are identical as long as
    files arrive in event-time order; only the closed_by label can shift
    from 'event' to 'timeout' for sessions that idle across a batch
    boundary (documented, not oracled — the oracle runs the single-batch
    contract).

    Value sums are integer cents in state (floor(value*100 + 0.5), the
    stream_user_stats convention) — batch-order independent and
    hash-exact."""
    import pandas as pd  # local: Arrow path only materializes on executors
    from pyspark.sql.streaming.state import GroupStateTimeout

    t = (
        events.withWatermark("ts", "0 seconds")
        .select("user_id", "ts", "ts_us", "event_id", "value")
    )

    def update(key, pdfs, state):
        if state.hasTimedOut:
            start_us, last_us, n, cents = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start_us": [start_us],
                    "session_end_us": [last_us + SESSIONS_GAP_US],
                    "n_events": [n],
                    "total_cents": [cents],
                    "closed_by": ["timeout"],
                }
            )
            return
        rows = (
            pd.concat(list(pdfs), ignore_index=True)
            .sort_values(["ts_us", "event_id"])
            .reset_index(drop=True)
        )
        if state.exists:
            start_us, last_us, n, cents = state.get
        else:
            start_us = None
        out = []
        import math

        for r in rows.itertuples(index=False):
            t_us = int(r.ts_us)
            # half-up cents, floor(x*100 + 0.5) — the stream_user_stats /
            # oracle convention, including for negatives
            c = int(math.floor(float(r.value) * 100 + 0.5))
            if start_us is None:
                start_us, last_us, n, cents = t_us, t_us, 1, c
            elif t_us - last_us >= SESSIONS_GAP_US:
                out.append(
                    (key[0], start_us, last_us + SESSIONS_GAP_US, n, cents, "event")
                )
                start_us, last_us, n, cents = t_us, t_us, 1, c
            else:
                last_us, n, cents = t_us, n + 1, cents + c
        state.update((start_us, last_us, n, cents))
        # Clamp to strictly above the current watermark: Spark REJECTS an
        # event-time timeout at or below it, which a late-arriving user's
        # stale session would otherwise trigger on a live multi-batch
        # stream. Under the single-data-batch oracle contract the watermark
        # is 0 here, so the clamp never engages and results are unchanged;
        # when it does engage, the session is evicted at the next batch
        # boundary — the same destiny the unclamped timeout already implied.
        desired = (last_us + SESSIONS_GAP_US) // 1000
        state.setTimeoutTimestamp(max(desired, state.getCurrentWatermarkMs() + 1))
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "user_id",
                    "session_start_us",
                    "session_end_us",
                    "n_events",
                    "total_cents",
                    "closed_by",
                ],
            )

    return t.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id long, session_start_us long, session_end_us long, "
        "n_events long, total_cents long, closed_by string",
        "start_us long, last_us long, n long, cents long",
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
