"""Gap-based sessionization — assign session ids to event streams.

A session ends when the gap to the next event of the same key exceeds
`gap`. Pure window algebra (no UDF, no iteration): one lag to mark
session starts, one running sum to number them — both over the SAME
(key, time) window, so Catalyst plans a single hash exchange + sort for
the whole operator. The batch twin of Structured Streaming's
F.session_window aggregation.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    events: DataFrame,
    key: str = "user_id",
    time: str = "ts",
    gap_seconds: int = 1800,
    tiebreak: str | None = None,
) -> DataFrame:
    """Add `session_id` (per-key, 1-based, in time order) and
    `session_start` flag to each event."""
    order = [F.col(time).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    prev_ts = F.lag(F.col(time)).over(w)
    # exact integer-microsecond arithmetic: a float-seconds comparison can
    # flip on exact-gap boundaries and diverge across engines
    gap_us = F.lit(int(gap_seconds) * 1_000_000)
    is_start = (
        prev_ts.isNull() | (F.unix_micros(F.col(time)) - F.unix_micros(prev_ts) > gap_us)
    ).cast("int")
    run = Window.partitionBy(key).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    return events.withColumn("session_start", is_start).withColumn(
        "session_id", F.sum("session_start").over(run)
    )


def session_stats(
    events: DataFrame,
    key: str = "user_id",
    time: str = "ts",
    gap_seconds: int = 1800,
    tiebreak: str | None = None,
) -> DataFrame:
    """One row per (key, session): bounds, event count, duration seconds."""
    s = sessionize(events, key, time, gap_seconds, tiebreak)
    return s.groupBy(key, "session_id").agg(
        F.min(time).alias("session_start_ts"),
        F.max(time).alias("session_end_ts"),
        F.count(F.lit(1)).alias("n_events"),
        # exact micros diff, then one division — identical across engines
        ((F.unix_micros(F.max(time)) - F.unix_micros(F.min(time))) / 1_000_000.0).alias(
            "duration_sec"
        ),
    )


def _funnel_chunk_tables(
    ck: DataFrame,
    steps: list[str],
    key: str,
    type_col: str,
    time: str,
    tiebreak: str,
    max_gap_seconds: int | None,
    chunk_size: int | None = None,
    full_tables: bool = True,
) -> DataFrame:
    """Per-(key, chunk) funnel TRANSITION TABLES — the associative
    summary that makes the funnel fold hot-key safe. `ck` carries a
    precomputed `__chunk` id: each key's time-ordered step-type events
    split into bounded chunks (row_number over the same (time, tiebreak,
    type) order the monolithic fold sorts by — the window sort spills,
    it never materializes a per-key array); each chunk is folded ONCE
    into a table with one entry per possible incoming step s0 in 0..n:

      entry[s0] = (m, step, us) where m is the micros of the chunk's
      FIRST event of type steps[s0+1] (null if none — the chunk cannot
      advance a key sitting at s0), and (step, us) is the state after
      folding the chunk's remainder from (s0+1, m).

    Why one first-match suffices under max_gap_seconds: events are
    time-ordered, so if the first steps[s0+1] match fails the gap
    against the incoming us, every later match fails it too (larger
    us, same incoming us) — the chunk either advances at its first
    match or leaves the state untouched. Once advanced, all further
    gap checks are chunk-internal (real us), so the rest of the table
    entry is independent of the incoming us; the merge
    (`_funnel_apply_tables`) re-checks only the entry's m against the
    carried state. Per-event cost is (n_steps+1) parallel entries —
    bounded and tiny; per-key reduce payload is
    ceil(events/chunk_size) tables of n+1 structs.

    Hybrid cost dial: with `full_tables=False` (legal ONLY when the
    per-key fold starts from step 0 — batch, no resumed state) and
    `chunk_size` given, a key whose WHOLE sequence fits one chunk (its
    windowed `__n` <= chunk_size) gets a one-entry table — entry 0 is
    all `_funnel_apply_tables` will ever read for it — so the common-
    case key pays the same single-state walk as the monolithic fold;
    only genuinely hot keys pay the (n_steps+1)-entry fold."""
    n = len(steps)
    steps_lit = F.array(*[F.lit(s) for s in steps])
    gap_us = (
        F.lit(int(max_gap_seconds) * 1_000_000) if max_gap_seconds is not None else None
    )
    # step-type coding (optimization r15, guide §2.3 narrower types):
    # `steps` IS an exact plan-time vocabulary, so the fold state never
    # needs the type string — events code to their 1-based step index
    # before the collect (ev is filtered to step types by contract, so
    # the code is always 1..n; a contract-violating stray type codes to
    # 0, which matches no step — exactly what the string compare did).
    # The chunk buffer element narrows from (timestamp, long, string)
    # to (timestamp, long, int) and the per-entry match becomes an
    # integer equality instead of element_at + string compare. A
    # repeated step type codes to its FIRST position, so each step's
    # expected code comes from the per-position list `coded_steps`.
    code = F.array_position(steps_lit, F.col(type_col)).cast("int")
    coded_steps = F.array(*[F.lit(steps.index(s) + 1) for s in steps])
    # hash(key) partitioning from the caller's window satisfies (key,
    # chunk) clustering — no second exchange for this groupBy or the
    # per-key one
    agg_cols = [
        F.array_sort(
            F.collect_list(F.struct(F.col(time), F.col(tiebreak), code.alias("__sc")))
        ).alias("__seq")
    ]
    if not full_tables:
        agg_cols.append(F.max("__n").alias("__n"))
    per_chunk = ck.groupBy(key, "__chunk").agg(*agg_cols)

    def entry(i: int):
        return F.struct(
            F.lit(False).alias("started"),
            F.lit(None).cast("long").alias("m"),
            F.lit(i).cast("long").alias("step"),
            F.lit(0).cast("long").alias("us"),
        )

    full_init = F.array(*[entry(i) for i in range(n + 1)])
    if full_tables:
        init = full_init
    else:
        init = F.when(
            F.col("__n") <= F.lit(int(chunk_size)), F.array(entry(0))
        ).otherwise(full_init)

    def merge(acc, x):
        xus = F.unix_micros(x[time])

        def upd(e):
            match = (e["step"] < n) & (
                x["__sc"] == F.get(coded_steps, e["step"].cast("int"))
            )
            first = (~e["started"]) & match
            adv = e["started"] & match
            if gap_us is not None:
                adv = adv & ((e["step"] == 0) | (xus - e["us"] <= gap_us))
            return (
                F.when(
                    first,
                    F.struct(
                        F.lit(True).alias("started"),
                        xus.alias("m"),
                        (e["step"] + 1).alias("step"),
                        xus.alias("us"),
                    ),
                )
                .when(
                    adv,
                    F.struct(
                        e["started"].alias("started"),
                        e["m"].alias("m"),
                        (e["step"] + 1).alias("step"),
                        xus.alias("us"),
                    ),
                )
                .otherwise(e)
            )

        return F.transform(acc, upd)

    table = F.aggregate(
        "__seq",
        init,
        merge,
        lambda acc: F.transform(
            acc,
            lambda e: F.struct(
                e["m"].alias("m"), e["step"].alias("step"), e["us"].alias("us")
            ),
        ),
    )
    return per_chunk.select(key, F.col("__chunk"), table.alias("__table"))


def _funnel_apply_tables(tabs_col, init_state, max_gap_seconds: int | None):
    """Compose chunk transition tables (sorted by chunk) onto a carried
    (step, us) state — the associative merge for `_funnel_chunk_tables`.
    `tabs_col` is an array of struct(c, t) sorted by chunk id; the gap
    check against each entry's first-match micros mirrors the
    monolithic fold exactly (no check from step 0)."""
    gap_us = (
        F.lit(int(max_gap_seconds) * 1_000_000) if max_gap_seconds is not None else None
    )

    def merge(acc, ct):
        e = F.element_at(ct["t"], (acc["step"] + 1).cast("int"))
        ok = e["m"].isNotNull()
        if gap_us is not None:
            ok = ok & ((acc["step"] == 0) | (e["m"] - acc["us"] <= gap_us))
        return F.when(
            ok, F.struct(e["step"].alias("step"), e["us"].alias("us"))
        ).otherwise(acc)

    return F.aggregate(tabs_col, init_state, merge)


def _prior_init(per_key: DataFrame, key: str, prior: DataFrame | None):
    if prior is not None:
        per_key = per_key.join(prior, key, "left")
    init = F.struct(
        (F.coalesce(F.col("__pstep"), F.lit(0)) if prior is not None else F.lit(0))
        .cast("long")
        .alias("step"),
        (F.coalesce(F.col("__pus"), F.lit(0)) if prior is not None else F.lit(0))
        .cast("long")
        .alias("us"),
    )
    return per_key, init


def funnel_fold_states(
    ev: DataFrame,
    steps: list[str],
    key: str = "user_id",
    type_col: str = "event_type",
    time: str = "ts",
    tiebreak: str = "event_id",
    max_gap_seconds: int | None = None,
    chunk_size: int = 65536,
    prior: DataFrame | None = None,
) -> DataFrame:
    """Hot-key-safe funnel fold: (key, step, us) final state per key in
    `ev` (which must already be filtered to step-type events). `prior`
    optionally carries resumed state as (key, __pstep, __pus) — the
    streaming form's per-key init. Identical results to the monolithic
    per-key array fold (pinned in tests), but no task ever holds more
    than chunk_size events of one key.

    Hybrid execution, ONE plan and one key exchange: a single windowed
    pass tags every event with its per-key chunk id and per-key total
    (row_number + count over the same key partitioning). Without a
    `prior` (the batch shape), keys whose whole sequence fits one chunk
    — in real event data, virtually all of them — fold a ONE-entry
    transition table (entry 0 is all the merge will read for them:
    identical per-event work to the monolithic single-state walk); only
    keys exceeding chunk_size fold the full (n_steps+1)-entry tables,
    bounded at chunk_size events per task regardless of how hot the key
    is. With a `prior`, the resumed step is unknown at chunk-fold time,
    so every key folds full tables — per-batch input, where the
    (n_steps+1)x constant is immaterial. The skew probe
    (tools/funnel_skew_probe.py, PERF.md) prices both kernels."""
    order = [F.col(time).asc(), F.col(tiebreak).asc(), F.col(type_col).asc()]
    w = Window.partitionBy(key).orderBy(*order)
    wall = Window.partitionBy(key)
    ck = ev.select(
        F.col(key), F.col(time), F.col(tiebreak), F.col(type_col),
        ((F.row_number().over(w) - F.lit(1)) / F.lit(int(chunk_size)))
        .cast("long")
        .alias("__chunk"),
        F.count(F.lit(1)).over(wall).alias("__n"),
    )
    tables = _funnel_chunk_tables(
        ck, steps, key, type_col, time, tiebreak, max_gap_seconds,
        chunk_size=chunk_size, full_tables=prior is not None,
    )
    per_key = tables.groupBy(key).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("__chunk").alias("c"), F.col("__table").alias("t")))
        ).alias("__tabs")
    )
    per_key, init = _prior_init(per_key, key, prior)
    st = _funnel_apply_tables(F.col("__tabs"), init, max_gap_seconds)
    return per_key.select(
        F.col(key), st["step"].alias("step"), st["us"].alias("us")
    )


def _funnel_states_monolithic(
    ev: DataFrame,
    steps: list[str],
    key: str,
    type_col: str,
    time: str,
    tiebreak: str,
    max_gap_seconds: int | None,
) -> DataFrame:
    """Reference semantics for `funnel_fold_states`: (key, step) from ONE
    (time, tiebreak)-sorted event array per key, folded in a single walk
    that compares event-type strings. Unbounded per-key arrays, so it is
    the equivalence pin's reference, never a production path."""
    per_key = ev.groupBy(key).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(time), F.col(tiebreak), F.col(type_col)))
        ).alias("__seq")
    )
    steps_lit = F.array(*[F.lit(s) for s in steps])

    def advance(acc, x):
        # state carries (step, micros of the previous step's event) so the
        # gap check stays exact integer arithmetic (the sessionize rule)
        xus = F.unix_micros(x[time])
        ok = (acc["step"] < len(steps)) & (
            x[type_col] == F.get(steps_lit, acc["step"].cast("int"))
        )
        if max_gap_seconds is not None:
            gap_us = F.lit(int(max_gap_seconds) * 1_000_000)
            ok = ok & ((acc["step"] == 0) | (xus - acc["us"] <= gap_us))
        return F.when(
            ok, F.struct((acc["step"] + 1).alias("step"), xus.alias("us"))
        ).otherwise(acc)

    init = F.struct(F.lit(0).cast("long").alias("step"), F.lit(0).cast("long").alias("us"))
    reached = F.aggregate("__seq", init, advance, lambda acc: acc["step"])
    return per_key.select(F.col(key), reached.alias("step"))


def event_funnel(
    events: DataFrame,
    steps: list[str],
    key: str = "user_id",
    type_col: str = "event_type",
    time: str = "ts",
    tiebreak: str = "event_id",
    max_gap_seconds: int | None = None,
    chunk_size: int = 65536,
) -> DataFrame:
    """Ordered-sequence conversion funnel: for the step sequence
    [s1, s2, ...], a key converts through step i when an event of type
    s_i occurs STRICTLY AFTER its step-(i-1) event in (time, tiebreak)
    order — the product-analytics funnel (signup -> view -> purchase),
    which is NOT the cumulative-predicate funnel (prep.quality_funnel):
    order matters, and the same event type occurring before the previous
    step does not count.

    Returns one row per step: (step, event_type, n_converted,
    conversion) where conversion = n_converted / previous step's count
    (step 1 converts from the total distinct-key base), rounded to 6 dp.

    `max_gap_seconds` bounds the time between CONSECUTIVE steps (the
    "purchase within a day of viewing" form). Because the gap to the
    previous step grows monotonically with event time, "first matching
    event must fall within the gap" and "earliest matching event within
    the gap" coincide — the fold checks the gap on the candidate match,
    and the SQL replay is still a per-step min over gap-filtered keys.

    Scale shape: events are FILTERED to the step types before any
    shuffle (pushed to the scan). The fold is the hot-key-safe chunked
    prefix-fold (`funnel_fold_states`): no task ever materializes more
    than chunk_size events of one key — a bot key holding 10% of all
    events costs ceil(events/chunk_size) bounded chunk folds, not one
    giant array in one task. One hash exchange on the key (window +
    both groupBys share it). Its equality with the monolithic
    single-array fold (`_funnel_states_monolithic`, the reference
    semantics) is pinned in tests.
    The per-step histogram is a bounded eager fetch (<= n_steps+1
    rows, the quality_funnel precedent); the result is a literal
    DataFrame."""
    if not steps:
        raise ValueError("steps must be non-empty")
    ev = events.filter(F.col(type_col).isin(list(steps)))
    reached_df = funnel_fold_states(
        ev, steps, key, type_col, time, tiebreak, max_gap_seconds,
        chunk_size=chunk_size,
    ).select(F.col("step").alias("__r"))
    # Optimization r14 (guide §2.6): the step-histogram fold and the
    # distinct-key base count are independent eager jobs over different
    # row sets — submit both from a 2-thread pool so the base count's
    # tasks back-fill executors freed by the fold's straggler tail
    # (sequential: fold + count; overlapped: ~max of the two). Results
    # are unchanged — two exact, independent aggregates.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        hist_f = pool.submit(
            lambda: dict(reached_df.groupBy("__r").count().collect())
        )
        base_f = pool.submit(lambda: events.select(key).distinct().count())
        hist = hist_f.result()
        base = base_f.result()
    rows, prev = [], base
    for i, s in enumerate(steps):
        n = sum(c for r, c in hist.items() if r >= i + 1)
        conv = math.floor(n / prev * 1e6 + 0.5) / 1e6 if prev > 0 else None
        rows.append((i + 1, s, n, conv))
        prev = n
    return events.sparkSession.createDataFrame(
        rows, "step long, event_type string, n_converted long, conversion double"
    )


def event_transitions(
    events: DataFrame,
    key: str = "user_id",
    type_col: str = "event_type",
    time: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """First-order path analysis: for every CONSECUTIVE pair of events
    of the same key in (time, tiebreak) order, count the
    (from_type, to_type) transition and its probability given the
    from-state — the Markov transition table behind "what do users do
    after X?" flow diagrams, and the companion the funnel tier reads
    when a step's conversion drops (where did they go instead?).

    Returns (from_type, to_type, n, prob[6dp]) with prob = n / total
    transitions leaving from_type.

    Scale shape: one lead() window over the key exchange (same
    partitioning every operator in this module uses — windows stream +
    spill, no per-key arrays), then a (from, to) count whose output is
    bounded by |event types|^2 regardless of row count; the probability
    window runs on that bounded aggregate. No joins, no collect."""
    w = Window.partitionBy(key).orderBy(F.col(time).asc(), F.col(tiebreak).asc())
    # alias AFTER the window, not before: a pre-window alias ships the
    # event-type string through the key exchange TWICE (once as itself for
    # the lead(), once under the alias) — renaming on the post-window
    # projection keeps the shuffle one string column narrower
    pairs = (
        events.select(key, time, tiebreak, type_col)
        .select(F.col(type_col), F.lead(type_col).over(w).alias("to_type"))
        .filter(F.col("to_type").isNotNull())
        .select(F.col(type_col).alias("from_type"), "to_type")
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return transition_probs(counts)


def transition_probs(counts: DataFrame) -> DataFrame:
    """The probability tail of `event_transitions`, factored out so the
    streaming monitor (streaming/transitions_stream.py) can score the
    SAME expression over its maintained (from_type, to_type, n) count
    store — stream == batch equality then follows from pair-count
    additivity plus the adjacency contract. Input: one row per
    (from_type, to_type) with exact integer `n`; the window runs over
    the bounded |types|^2 aggregate."""
    wtot = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wtot).cast("double"), 6
        ).alias("prob"),
    )


def session_paths(
    events: DataFrame,
    key: str = "user_id",
    type_col: str = "event_type",
    time: str = "ts",
    tiebreak: str = "event_id",
    gap_seconds: int = 1800,
    sep: str = ">",
    max_path_events: int | None = 1024,
) -> DataFrame:
    """Common-journey mining: sessionize (gap rule), render each
    session's ordered event-type sequence as one `sep`-joined path
    string, and count how often each distinct path occurs — the
    "what do whole sessions look like" rollup (event_transitions is its
    memoryless first-order projection; this is the full-sequence view
    product teams read as a Sankey / top-journeys table).

    Returns (path, path_len, n_sessions); with a cap, path_len stays
    the TRUE session length while `path` carries only the session's
    first max_path_events steps — so capped journeys group by their
    (prefix, true length) and remain countable, never silently merged
    with genuinely short ones.

    Scale shape: the sessionize windows ride ONE key exchange; the
    per-session array is bounded by session length for HUMAN traffic
    (gap-bounded sessions), but a bot active continuously — never a
    gap — forms ONE session spanning its entire history, and that
    single array is the hot-key risk. `max_path_events` is the guard:
    the per-session rank filter runs INSIDE the same window exchange
    (rows past the cap drop before the collect), so with a cap no task
    ever materializes more than max_path_events rows per session
    regardless of bot size. The guard is ON BY DEFAULT (1024 — the
    same default-safe flip event_funnel made with chunk_size: journey
    reports beyond a few hundred steps are unreadable anyway, and
    human gap-bounded sessions never reach it, so capped output is
    bit-identical to exact for real traffic); pass
    `max_path_events=None` for the exact-mode escape hatch when a
    bounded input is already guaranteed. The final path
    count groups on the path string itself — hashed keys, no skewed
    reducer unless one exact journey dominates, which is the answer
    the query exists to surface."""
    per_session = _session_seqs(
        events, key, type_col, time, tiebreak, gap_seconds, max_path_events
    )
    return (
        per_session.select(
            F.array_join(F.col("seq"), sep).alias("path"), "path_len"
        )
        .groupBy("path", "path_len")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )


def _session_seqs(
    events: DataFrame,
    key: str,
    type_col: str,
    time: str,
    tiebreak: str,
    gap_seconds: int,
    max_path_events: int | None,
) -> DataFrame:
    """Shared sessionized-sequence builder for the full-sequence queries
    (session_paths, path_ngrams): one row per (key, session_id) with
    `seq` = the session's (time, tiebreak)-ordered event-type array —
    truncated to the first max_path_events steps when capped — and
    `path_len` = the TRUE session length. The cap's in-session rank
    rides the sessionize windows' existing key exchange (session_paths
    docstring for the mechanism and the measured cost of the
    alternatives)."""
    if max_path_events is not None:
        # Capped branch (the default both headline queries run) —
        # optimization r15, guide §2.3 shuffle fewer bytes + narrower
        # types. Three changes over the uncapped struct form, all
        # output-identical under the operator's documented contract
        # (unique (time, tiebreak) per key — the reason `tiebreak`
        # exists; with duplicate keys the cap boundary was ALREADY
        # row_number-nondeterministic):
        #   1. event types dictionary-encode to a smallint code through
        #      an EXACT plan-time vocabulary (one single-column distinct
        #      with map-side partials, measured 0.35-0.44 s at bench
        #      scale — CHEAPER than a 256k-row LocalLimit sample, whose
        #      single-task global gather measured 0.62-0.75 s). The
        #      vocabulary is the same eager-literal idiom as the BM25
        #      stats and DSIR weights: it freezes the input at build
        #      time, which is the operator contract everywhere in this
        #      codebase.
        #   2. the key exchange ships (key, time, tiebreak, code) — the
        #      event-type string column no longer crosses the shuffle.
        #   3. the per-session ordering uses the in-session rank the
        #      cap already computes, bit-packed with the code into ONE
        #      BIGINT (rn << 9 | code), so the collect buffer is a
        #      flat long array and array_sort compares longs instead
        #      of (long, long, string) structs. Measured (same-JVM
        #      interleaved A/B vs the struct form): -10% to -32% on
        #      both headline consumers across three host windows; the
        #      two-buffer and struct-element fallback variants measured
        #      SLOWER than the struct form and were rejected.
        # A vocabulary larger than 511 codes (or empty input) falls
        # back to the struct form below — generality is never lost.
        vocab = _type_vocab(events, type_col)
        if vocab and len(vocab) <= _TYPE_VOCAB_MAX_CODES:
            return _session_seqs_coded(
                events, key, type_col, time, tiebreak, gap_seconds,
                int(max_path_events), vocab,
            )
    s = sessionize(events, key=key, time=time, gap_seconds=gap_seconds, tiebreak=tiebreak)
    ev_struct = F.struct(
        F.unix_micros(F.col(time)).alias("us"),
        F.col(tiebreak).alias("tb"),
        F.col(type_col).alias("ty"),
    )
    if max_path_events is not None:
        # in-session rank WITHOUT a second exchange: row_number over the
        # same (key)-partitioned (time, tiebreak) order the sessionize
        # windows already sorted, minus the running-max row_number of
        # the current session's start row — a (key, session_id) window
        # would re-shuffle and re-sort (measured ~1.7x the uncapped
        # pass); this form rides the existing exchange for free
        wk = Window.partitionBy(key).orderBy(F.col(time).asc(), F.col(tiebreak).asc())
        rk = F.row_number().over(wk)
        s = s.withColumn("__rk", rk)
        start_rk = F.max(
            F.when(F.col("session_start") == 1, F.col("__rk"))
        ).over(wk.rowsBetween(Window.unboundedPreceding, 0))
        s = s.withColumn("__rn", F.col("__rk") - start_rk + 1)
        collected = F.collect_list(
            F.when(F.col("__rn") <= int(max_path_events), ev_struct)
        )
    else:
        collected = F.collect_list(ev_struct)
    return s.groupBy(key, "session_id").agg(
        F.transform(F.array_sort(collected), lambda x: x["ty"]).alias("seq"),
        F.count(F.lit(1)).alias("path_len"),
    )


# dictionary-coding bound for the capped _session_seqs path: codes use
# 9 bits (1..511; 0 = NULL event type), so rn<<9|code stays exact in a
# BIGINT for any realistic cap; larger vocabularies use the struct form
_TYPE_VOCAB_MAX_CODES = 511


def _type_vocab(events: DataFrame, type_col: str) -> list:
    """Exact event-type vocabulary for the coded sequence build: one
    single-column distinct (map-side partials collapse each scan task
    to its few distinct types), sorted. The bounded eager-literal
    lifecycle of the BM25 corpus stats: the model freezes the input at
    plan-build time. The fetch is capped one past the code budget (+1
    for a NULL type), so an overflowing vocabulary costs at most 513
    driver rows and routes the caller to the struct form."""
    rows = (
        events.select(F.col(type_col).alias("__ty"))
        .distinct()
        .limit(_TYPE_VOCAB_MAX_CODES + 2)
        .collect()
    )
    return sorted(r["__ty"] for r in rows if r["__ty"] is not None)


def _session_seqs_coded(
    events: DataFrame,
    key: str,
    type_col: str,
    time: str,
    tiebreak: str,
    gap_seconds: int,
    cap: int,
    vocab: list,
) -> DataFrame:
    """The dictionary-coded capped sequence build (see _session_seqs).
    Output (key, session_id, seq, path_len) is identical to the struct
    form for unique (time, tiebreak) inputs: seq elements decode back
    through the exact vocabulary literal that produced the codes (code
    0 = NULL event type decodes to NULL via the out-of-bounds-null
    `get`, matching the struct form's null propagation)."""
    varr = F.lit(vocab)
    # 1-based position; NULL type -> NULL -> coalesce to code 0
    code = F.coalesce(F.array_position(varr, F.col(type_col)), F.lit(0))
    proj = events.select(
        F.col(key),
        F.col(time),
        F.col(tiebreak),
        code.cast("int").alias("__tc"),
    )
    s = sessionize(proj, key=key, time=time, gap_seconds=gap_seconds, tiebreak=tiebreak)
    wk = Window.partitionBy(key).orderBy(F.col(time).asc(), F.col(tiebreak).asc())
    s = s.withColumn("__rk", F.row_number().over(wk))
    start_rk = F.max(
        F.when(F.col("session_start") == 1, F.col("__rk"))
    ).over(wk.rowsBetween(Window.unboundedPreceding, 0))
    s = s.withColumn("__rn", F.col("__rk") - start_rk + 1)
    packed = F.shiftleft(F.col("__rn").cast("bigint"), 9).bitwiseOR(
        F.col("__tc").cast("bigint")
    )
    agg = s.groupBy(key, "session_id").agg(
        F.array_sort(
            F.collect_list(F.when(F.col("__rn") <= cap, packed))
        ).alias("__m"),
        F.count(F.lit(1)).alias("path_len"),
    )
    # get() is 0-based and returns NULL out of bounds, so code 0 (NULL
    # event type) decodes to NULL with no per-element branch
    seq = F.transform(
        F.col("__m"),
        lambda x: F.get(varr, x.bitwiseAND(F.lit(511)).cast("int") - 1),
    )
    return agg.select(key, "session_id", seq.alias("seq"), "path_len")


def path_ngrams(
    events: DataFrame,
    n: int = 3,
    key: str = "user_id",
    type_col: str = "event_type",
    time: str = "ts",
    tiebreak: str = "event_id",
    gap_seconds: int = 1800,
    sep: str = ">",
    max_path_events: int | None = 1024,
) -> DataFrame:
    """Journey n-gram mining: every length-`n` window of consecutive
    event types WITHIN a session, counted corpus-wide — the class
    between `event_transitions` (order-1 adjacency, session-blind) and
    `session_paths` (whole sequences, sparse at scale): "what 3-step
    motifs dominate?" is how funnels get DISCOVERED before
    `event_funnel` measures one. N-grams never cross a session boundary
    (the gap rule scopes behavior), unlike the raw lead() adjacency.

    Returns (gram, n, n_sessions): occurrence count and the number of
    distinct sessions containing the gram at least once.

    Scale shape: the shared `_session_seqs` build (one key exchange,
    hot-key-capped arrays — same `max_path_events` guard and default as
    session_paths), then a per-session slide that emits at most
    len(seq)-n+1 grams and a TWO-STAGE aggregate: first
    (gram, key, session) occurrence counts — map-side partials collapse
    within-session repeats before the exchange — then per-gram sum +
    group count, which IS the distinct-session count with no
    count-distinct expand and no string concat (measured ~11% faster
    than the countDistinct form at bench scale, identical output).
    Hashed keys, output bounded by distinct-motif count, no joins."""
    if n < 1:
        raise ValueError(f"path_ngrams: n must be >= 1, got {n}")
    per_session = _session_seqs(
        events, key, type_col, time, tiebreak, gap_seconds, max_path_events
    )
    seq = F.col("seq")
    grams = F.when(
        F.size(seq) >= int(n),
        F.transform(
            F.sequence(F.lit(1), F.size(seq) - int(n) + 1),
            lambda i: F.array_join(F.slice(seq, i, int(n)), sep),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = per_session.select(
        F.col(key), F.col("session_id"), F.explode(grams).alias("gram")
    )
    per_gram_session = exploded.groupBy("gram", key, "session_id").agg(
        F.count(F.lit(1)).alias("__c")
    )
    return per_gram_session.groupBy("gram").agg(
        F.sum("__c").cast("long").alias("n"),
        F.count(F.lit(1)).alias("n_sessions"),
    )


def daily_burst_zscore(
    events: DataFrame,
    type_col: str = "event_type",
    time: str = "ts",
    window_days: int = 7,
    min_days: int = 3,
    z_thresh: float = 3.0,
    densify: bool = False,
) -> DataFrame:
    """Volume-anomaly detection over the event stream: per (event_type,
    day), the z-score of today's count against the trailing
    `window_days`-day mean/std (the current day EXCLUDED from its own
    baseline), flagging days whose z >= z_thresh — the monitor that
    catches ingestion bursts, bot storms, and logging regressions that
    value_outliers (per-event robust stats) cannot see because every
    individual event looks normal.

    Returns (event_type, day, n, z[6dp], is_burst); days with fewer
    than `min_days` prior days in the window emit NULL z (no baseline).

    Baseline semantics (deliberate, and shared bit-for-bit with the
    oracle and the streaming monitor): the trailing window sees only
    ACTIVE days — calendar days with zero events produce no daily row,
    so they neither contribute n=0 to the mean/std nor count toward
    `min_days`. A sparse type's baseline is therefore its
    when-it-fires volume (bursts are judged against typical active
    days, not against silence). Pass `densify=True` to score against
    the calendar instead: per type, the full min..max day range is
    generated and missing days participate as n=0 — quiet gaps then
    deflate the mean and `min_days` gates on calendar days.

    Cross-engine determinism: the baseline sums (count, sum, sum of
    squares) are exact integers over a RANGE frame on epoch-day, and
    mean/variance/z are derived from them in one fixed IEEE expression
    — no streaming stddev aggregate, whose fold order differs per
    engine. Scale shape: the daily rollup is one (type, day) groupBy;
    the window runs over day-count rows (|types| x |days| — thousands,
    not billions)."""
    daily = (
        events.select(F.col(type_col).alias("event_type"), F.col(time).cast("date").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return zscore_from_daily_counts(daily, window_days, min_days, z_thresh, densify)


def zscore_from_daily_counts(
    daily: DataFrame,
    window_days: int = 7,
    min_days: int = 3,
    z_thresh: float = 3.0,
    densify: bool = False,
) -> DataFrame:
    """The z-scoring tail of `daily_burst_zscore`, factored out so the
    streaming monitor (streaming/burst_stream.py) can score the SAME
    expression over its maintained (event_type, day, n) count store —
    stream == batch equality then follows from count additivity alone.
    Input: one row per (event_type, day) with exact integer `n`.

    Default baselines are over ACTIVE days only (daily_burst_zscore
    docstring); `densify=True` inserts n=0 rows for every missing
    calendar day in each type's min..max span first — one bounded
    (|types| x |days|) grid join, same order as the window itself."""
    if densify:
        spans = daily.groupBy("event_type").agg(
            F.min("day").alias("__d0"), F.max("day").alias("__d1")
        )
        grid = spans.select(
            "event_type", F.explode(F.sequence("__d0", "__d1")).alias("day")
        )
        daily = grid.join(daily, ["event_type", "day"], "left").select(
            "event_type",
            "day",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
    daily = daily.withColumn("d", F.datediff("day", F.lit("1970-01-01")))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rangeBetween(-int(window_days), -1)
    )
    cnt = F.count("n").over(w)
    s1 = F.sum("n").over(w)
    s2 = F.sum(F.col("n") * F.col("n")).over(w)
    base = daily.select(
        "event_type",
        "day",
        "n",
        cnt.alias("__cnt"),
        s1.alias("__s1"),
        s2.alias("__s2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mean = d("__s1") / d("__cnt")
    var = (d("__s2") - d("__s1") * d("__s1") / d("__cnt")) / (d("__cnt") - F.lit(1.0))
    z = F.when(
        (F.col("__cnt") >= int(min_days)) & (var > F.lit(0.0)),
        F.round((d("n") - mean) / F.sqrt(var), 6),
    )
    return base.select(
        "event_type",
        "day",
        "n",
        z.alias("z"),
        F.coalesce(z >= F.lit(float(z_thresh)), F.lit(False)).alias("is_burst"),
    )


def _broadcast_if_bounded(events_keys: DataFrame, max_groups: int | None):
    """Shared guard for the per-group broadcast joins in this module:
    probe the group count with ONE bounded aggregate job
    (distinct().limit(max+1).count() — map-side partial distinct, short-
    circuits at the cap) and return F.broadcast only when the per-group
    table provably fits. Above the cap the joins go in plain, and
    AQE/sort-merge co-partitions on the group key instead of shipping an
    unbounded table to every executor.

    The probe is an EAGER Spark job (one extra scan of the probed input,
    launched at DataFrame-CONSTRUCTION time), so max_groups=None — skip
    it entirely, keep the operator lazy — is the DEFAULT: the plain join
    costs nothing extra, and AQE's runtime shuffle stats convert it to a
    broadcast join anyway whenever the built side turns out small
    (spark.sql.adaptive.autoBroadcastJoinThreshold), without the extra
    pass. Pass a cap only when the plan must be broadcast-pinned up
    front (AQE off, or a provably tiny group domain worth one probe)."""
    if max_groups is None:
        return lambda df: df
    n = events_keys.distinct().limit(int(max_groups) + 1).count()
    if n > int(max_groups):
        return lambda df: df
    return F.broadcast


def value_outliers(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    n_sigmas: float = 3.0,
    max_broadcast_groups: int | None = None,
) -> DataFrame:
    """Robust per-group anomaly summary: median and MAD (median absolute
    deviation, scaled by the normal-consistency constant 1.4826) of
    `value_col`, and how many rows fall outside median +- n_sigmas
    robust sigmas — the monitoring rule that survives the outliers it
    is hunting (mean/stddev get dragged by the very anomalies a burst
    of bad telemetry injects; the median/MAD breakdown point is 50%).

    Returns one row per group: (group_col, n, median, mad,
    lo[6dp], hi[6dp], n_outliers).

    Scale shape: two grouped aggregates over the SAME key (the second
    over |x - median|, which needs the first's result joined back) plus
    one counting pass. By default (max_broadcast_groups=None) the
    join-backs run plain and LAZY — co-partitioned on the group key,
    with AQE's runtime stats converting them to broadcast whenever the
    per-group table turns out small, at zero extra cost. Passing a cap
    force-broadcasts under a proven bound instead, at the price of one
    EAGER probe job (an extra scan at construction time) — for AQE-off
    deployments; a per-group table with millions of groups is never
    forced to every executor either way. Exact percentiles
    for the cross-engine contract; swap percentile_approx in at 100 TB
    the same way dataset_card documents. NULL values are ignored
    (percentile semantics) and never counted as outliers."""
    ev = events.select(F.col(group_col).alias("__g"), F.col(value_col).alias("__v"))
    bcast = _broadcast_if_bounded(
        ev.select("__g"), max_broadcast_groups
    )
    med = ev.groupBy("__g").agg(F.percentile("__v", F.lit(0.5)).alias("__med"))
    dev = (
        ev.join(bcast(med), "__g")
        .select("__g", "__med", F.abs(F.col("__v") - F.col("__med")).alias("__ad"))
        .groupBy("__g")
        .agg(
            F.max("__med").alias("__med"),
            (F.percentile("__ad", F.lit(0.5)) * F.lit(1.4826)).alias("__mad"),
        )
    )
    lo = F.col("__med") - F.lit(float(n_sigmas)) * F.col("__mad")
    hi = F.col("__med") + F.lit(float(n_sigmas)) * F.col("__mad")
    flagged = (
        ev.join(bcast(dev), "__g")
        .select(
            "__g", "__med", "__mad",
            ((F.col("__v") < lo) | (F.col("__v") > hi)).alias("__out"),
            F.col("__v").isNotNull().alias("__nn"),
        )
        .groupBy("__g")
        .agg(
            F.sum(F.col("__nn").cast("long")).alias("n"),
            F.round(F.max("__med"), 6).alias("median"),
            F.round(F.max("__mad"), 6).alias("mad"),
            F.round(F.max(lo), 6).alias("lo"),
            F.round(F.max(hi), 6).alias("hi"),
            F.sum(F.coalesce(F.col("__out").cast("long"), F.lit(0))).alias("n_outliers"),
        )
        .withColumnRenamed("__g", group_col)
    )
    return flagged


def retention_cohorts(
    events: DataFrame,
    key: str = "user_id",
    time: str = "ts",
    max_broadcast_groups: int | None = None,
) -> DataFrame:
    """Day-N retention matrix: users cohorted by first-seen day; for
    each (cohort_day, day_offset), how many cohort members were active
    that many days later and what fraction of the cohort that is — the
    standard growth-accounting companion to the DAU rollup (is the
    product keeping the users each cohort brought?).

    Returns (cohort_day, day_offset, n_active, cohort_size,
    retention_rate[6dp]) with day_offset 0 rows equal to the cohort
    size by construction.

    Scale shape: one distinct (user, day) aggregate, one min-day
    cohorting aggregate, a key-equi join back (co-partitions on the
    user key), and a (cohort, offset) count — output is bounded by
    days^2 / 2 regardless of user count. The cohort-size join
    runs plain and lazy by default (max_broadcast_groups=None — AQE
    converts it to broadcast at runtime; cohorts <= days, so the built
    side is tiny for any calendar history); passing a cap instead
    force-broadcasts after one EAGER probe job proves the distinct-DAY
    count is under it (for AQE-off deployments — the guard still bounds
    degenerate "cohort by freeform column" misuse)."""
    d = events.select(F.col(key).alias("__u"), F.col(time).cast("date").alias("__day")).distinct()
    bcast = _broadcast_if_bounded(
        d.select("__day"), max_broadcast_groups
    )
    first = d.groupBy("__u").agg(F.min("__day").alias("__cohort"))
    act = (
        d.join(first, "__u")
        .select("__cohort", F.datediff("__day", F.col("__cohort")).alias("__off"))
        .groupBy("__cohort", "__off")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    size = first.groupBy("__cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        act.join(bcast(size), "__cohort")
        .select(
            F.col("__cohort").alias("cohort_day"),
            F.col("__off").cast("long").alias("day_offset"),
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size").cast("double"),
                6,
            ).alias("retention_rate"),
        )
    )
