"""Custom stateful streaming operators — ``applyInPandasWithState``.

The two §2.9 shapes Spark's native windows cannot express (SURVEY
"what's hard" watch-list):

* **per-record sliding windows** — the reference assigns each record one
  window ``[ts, ts+size)`` anchored at its own event time
  (kafi/streams/topologynode.py:702-707) and aggregates the key's records
  falling inside it (topologynode.py:739-753);
* **custom trigger policies** — emission is gated by an arbitrary
  ``trigger_fun(window_end, watermark)`` over the running max event time
  (topologynode.py:654-666), not by Spark's fixed append-mode rule.

Both are implemented here on one primitive: per-key state =
(pending events, max event time). Each micro-batch appends the key's new
events, advances the per-key watermark ``wm = max_ts - lateness``, emits
every window whose anchor passes ``trigger_fun(anchor_ts + size, wm)``
with a caller-supplied pandas aggregate over the window's events, then
evicts events with ``ts + size <= wm`` (no window can contain them any
more). Emission happens before eviction in the same trigger, so a
window's members are always still in state when it fires; each window
fires exactly once (its anchor is evicted by the same threshold that
fired it).

Deviation from the reference, documented: the reference's watermark is
the *global* max event time of the driving stream; per-key state gives a
*per-key* watermark. For keyed workloads this only delays emission of
quiet keys — contents are identical. Bounded state is the same
invariant the reference asserts (pickled-state-size tests): state per
key is O(events inside one ``size + lateness`` horizon).
"""

from __future__ import annotations

import pickle
from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from kafi_spark.functions.state import save_delta as _save_delta

_STATE_SCHEMA = "events binary, max_ts long, fired binary"


def sliding_window_stream(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    size_ms: int,
    agg_fn: Callable[[pd.DataFrame], dict],
    agg_schema: str,
    payload_cols: Sequence[str] = (),
    lateness_ms: int = 0,
    trigger_fun: Callable[[int, int], bool] | None = None,
) -> DataFrame:
    """Per-record sliding-window aggregate over a (streaming) DataFrame.

    ``agg_fn`` receives the window's events as a pandas DataFrame with
    columns ``[ts_col, *payload_cols]`` (ts as int64 epoch-ms) and
    returns a dict matching ``agg_schema``. Output rows are
    ``(*key_cols, window_end, *agg_schema)`` — one per closed window.

    ``trigger_fun(window_end_ms, watermark_ms)`` decides emission
    (default: ``window_end <= watermark``, the reference's policy).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    fire = trigger_fun or (lambda end, wm: end <= wm)
    key_cols = list(key_cols)
    payload_cols = list(payload_cols)
    ev_cols = [ts_col, *payload_cols]

    key_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join(
        [f"{c} {key_fields[c]}" for c in key_cols]
        + ["window_end long", agg_schema]
    )
    # bracket-aware top-level split: a naive split(',') breaks names out
    # of nested types ("vals array<struct<a:int,b:int>>, n long" yielded
    # a phantom 'b:int>>' column and misaligned pandas frames — round-9
    # review)
    def _top_level_fields(schema: str) -> list[str]:
        parts, depth, cur = [], 0, []
        for ch in schema:
            if ch == "," and depth == 0:
                parts.append("".join(cur))
                cur = []
                continue
            depth += ch in "<("
            depth -= ch in ">)"
            cur.append(ch)
        parts.append("".join(cur))
        return [p.strip() for p in parts if p.strip()]

    agg_names = [part.split()[0] for part in _top_level_fields(agg_schema)]

    def proc(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            raw, max_ts, fired_raw = state.get
            events, fired = pickle.loads(raw), pickle.loads(fired_raw)
        else:
            events, max_ts, fired = pd.DataFrame(columns=ev_cols), -(1 << 62), set()

        new = pd.concat([p[ev_cols] for p in pdfs], ignore_index=True)
        if len(new):
            new[ts_col] = new[ts_col].astype("int64")
            # drop events late relative to the PREVIOUS trigger's watermark
            # — their windows already fired/evicted, and re-admitting them
            # would re-open a closed window with partial contents. Events
            # that are merely old within THIS batch are fine: the whole
            # batch lands before the watermark advances, exactly like the
            # reference pushing a full batch through the circuit per step.
            #
            # Exception (round-9 review): a custom trigger_fun may HOLD a
            # closed window open past the watermark; its members are
            # deliberately kept resident (the `cut` eviction floor), so a
            # late event at/above the earliest held anchor must still be
            # admitted — dropping it fired the held window later with
            # partial contents. Safe: fired windows above the floor stay
            # in `fired` (never re-fire), and an anchor below the floor
            # cannot re-enter (both admission rules exclude it).
            wm_prev = max_ts - lateness_ms
            admit = new[ts_col] + size_ms > wm_prev
            if len(events):
                ets = events[ts_col]
                held = {int(t) for t in
                        ets[ets + size_ms <= wm_prev].unique()} - fired
                if held:
                    admit = admit | (new[ts_col] >= min(held))
            new = new[admit]
            if len(new):
                max_ts = max(max_ts, int(new[ts_col].max()))
                events = pd.concat(
                    [events, new] if len(events) else [new], ignore_index=True
                )
        wm = max_ts - lateness_ms

        ts = events[ts_col]
        # fire closed, not-yet-fired windows whose gate passes; emission
        # precedes eviction, so a window's members are still in state
        closed = sorted(int(t) for t in ts[ts + size_ms <= wm].unique()) \
            if len(events) else []
        rows = []
        for a in closed:
            if a in fired:
                continue
            end = a + size_ms
            if not fire(end, wm):
                continue
            inside = events[(ts >= a) & (ts < end)]
            rows.append({**dict(zip(key_cols, key)), "window_end": end,
                         **agg_fn(inside)})
            fired.add(a)
        # evict events no window can need: past the horizon AND below the
        # earliest closed-but-unfired anchor (a custom gate may hold a
        # window open past its close; its members must stay resident)
        unfired = [a for a in closed if a not in fired]
        cut = min(unfired) if unfired else None
        keep = ts + size_ms > wm
        if cut is not None:
            keep = keep | (ts >= cut)
        events = events[keep]
        fired = {a for a in fired if a in set(int(t) for t in events[ts_col])}
        state.update((pickle.dumps(events), max_ts, pickle.dumps(fired)))
        if rows:
            yield pd.DataFrame(rows, columns=[*key_cols, "window_end", *agg_names])

    return (
        df.groupBy(*key_cols)
        .applyInPandasWithState(
            proc, out_schema, _STATE_SCHEMA, "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def dedup_exact_stream(
    df: DataFrame,
    text_col: str,
    ts_col: str,
    watermark: str = "10 minutes",
    fingerprint_col: str = "fingerprint",
) -> DataFrame:
    """Streaming twin of exact dedup (dedup.py:dedup_exact): the FIRST
    record of each content fingerprint passes; later copies arriving
    within the watermark horizon drop.

    Spark-native state: ``dropDuplicatesWithinWatermark`` keys its dedup
    state on the md5 fingerprint and garbage-collects entries once the
    event-time watermark passes them — bounded state at any throughput,
    the same GC contract the batch operator doesn't need. Copies arriving
    LATER than the watermark horizon are re-admitted (their state is
    gone); choose the horizon accordingly, like any watermarked dedup.
    """
    from pyspark.sql import functions as F

    return (
        df.withColumn(fingerprint_col, F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark([fingerprint_col])
    )


def bloom_dedup_stream(
    text_col: str,
    state_dir: str,
    num_bits: int,
    num_hashes: int,
    seed: int = 0,
    sink=None,
    drop_batch_dups: bool = True,
    version_prefix: str = "",
):
    """Cross-batch (and cross-RUN) streaming dedup via persisted Bloom
    state: returns a ``foreachBatch`` callable that, per micro-batch,

    1. loads the merged filter from ``state_dir`` (versioned deltas,
       :func:`kafi_spark.functions.bloom.bloom_load_state`),
    2. keeps only definitely-new rows (``bloom_new`` — no false
       negatives, so nothing historical ever passes twice),
    3. hands them to ``sink(new_df, epoch_id)``,
    4. persists the new rows' fingerprints as this epoch's delta.

    Contrast with :func:`dedup_exact_stream`: that operator's state is
    exact but watermark-GC'd (late copies re-admit once state expires)
    and lives inside one checkpoint. Bloom state is FOREVER-seen across
    restarts, different queries, even different clusters sharing the
    state dir — at the price of the configured false-positive rate
    dropping a sliver of genuinely-new rows. Pick per pipeline.

    Retried epochs are safe AND re-emit identically: the delta write is
    keyed by epoch id (idempotent overwrite), and the loaded state
    excludes the current epoch's own delta — so a replay (crash between
    delta write and sink commit) sees exactly the pre-epoch state and
    hands the sink the same new rows as the first attempt. Epoch ids
    are scoped to the query's CHECKPOINT: restarting with the same
    checkpoint continues the sequence (safe); starting a FRESH
    checkpoint against the same state dir restarts epochs at 0 and
    would overwrite old deltas — give each fresh checkpoint a distinct
    ``version_prefix`` (e.g. a run id) to keep delta keys disjoint.
    """
    from kafi_spark.functions.bloom import (
        bloom_build, bloom_load_state, bloom_new, bloom_save_delta)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        state = bloom_load_state(
            spark, state_dir, exclude_version=f"{version_prefix}{epoch_id}"
        )
        if drop_batch_dups:
            # DETERMINISTIC representative per text (round-9 review):
            # dropDuplicates keeps whichever row a task saw first, so a
            # crash-replayed epoch could hand the sink a DIFFERENT row
            # for the same text than the first attempt — breaking the
            # documented byte-identical-replay contract for sinks that
            # read the non-text columns. A full-row hash as the pick
            # order makes the winner a pure function of the data (ties
            # ⇒ identical rows ⇒ interchangeable).
            from pyspark.sql import Window as W

            wo = W.partitionBy(text_col).orderBy(
                F.xxhash64(*batch_df.columns))
            b = (batch_df.withColumn("__rn", F.row_number().over(wo))
                 .filter(F.col("__rn") == 1).drop("__rn"))
        else:
            b = batch_df
        # materialize ONCE: the sink read and the delta build both
        # consume the batch; without this the source would re-execute
        # per consumer (sanctioned localCheckpoint deviation, PLANS.md)
        b = b.localCheckpoint()
        new = bloom_new(b, state, text_col, num_bits, num_hashes, seed)
        if sink is not None:
            sink(new, epoch_id)
        # the delta MUST come from the whole deduped batch, not from
        # `new`: on an epoch REPLAY the first attempt's delta is already
        # merged into state, `new` comes back empty, and a new-built
        # delta would overwrite the epoch's fingerprints with an empty
        # filter — un-seeing those rows forever. Batch-built deltas are
        # idempotent (already-seen rows just re-set already-set bits).
        delta = bloom_build(b.select(text_col), text_col, num_bits, num_hashes, seed)
        bloom_save_delta(delta, state_dir, f"{version_prefix}{epoch_id}")

    return process


def _load_fp_state(spark, state_dir: str, exclude_version: str,
                   fp_type: str = "bigint") -> DataFrame:
    """Merged fingerprint-set state for the span/substring/exact dedup
    streams: distinct ``__fp`` over every persisted delta EXCEPT the
    current epoch's own (``v=<exclude_version>``) — so a replayed epoch
    sees exactly the pre-epoch state and re-emits the same output as
    its first attempt (crash between delta write and sink commit).

    ``fp_type``: the span/gram fingerprints are xxhash64 longs since
    r13 (spans.py:_dedup_spans collision note) — state dirs written by
    pre-r13 engines (string md5 fps) are not readable by this version;
    the exact-dedup stream's TEXT fingerprints stay md5 strings (they
    twin the batch ``text_stats`` fingerprint column, which the oracle
    replays) and pass ``fp_type="string"``.

    The read schema is pinned: no footer-sampling inference job per
    epoch, narrower integer deltas upcast to ``fp_type``, and a legacy
    string-fp dir fails at read time instead of null-casting its fps."""
    from kafi_spark.functions.state import load_deltas

    df = load_deltas(spark, state_dir, exclude_version,
                     empty_schema=f"__fp {fp_type}",
                     schema=f"__fp {fp_type}, v string")
    return df.select("__fp").distinct()


def span_dedup_stream(
    text_col: str,
    id_col: str,
    state_dir: str,
    span_tokens: int = 8,
    sink=None,
    version_prefix: str = "",
    joiner: str = " ",
):
    """Streaming twin of :func:`kafi_spark.functions.spans.span_dedup`
    (keep='first', max_occurrences=1 semantics — the configuration whose
    decisions are causal in arrival order; see divergence note below).

    Returns a ``foreachBatch`` callable maintaining EXACT persisted
    state: the set of span fingerprints ever seen, stored as versioned
    parquet deltas under ``state_dir`` (the
    :func:`~kafi_spark.streaming.stateful.bloom_dedup_stream` delta
    discipline — epoch-keyed overwrites make replays idempotent, the
    merged state is a pure distinct-union so replay order never
    matters, and the load EXCLUDES the current epoch's own delta so a
    replayed epoch re-emits byte-identically). Per micro-batch:

    1. explode documents into spans, fingerprint each (xxhash64 — the batch
       operator's key, spans.py:107);
    2. drop spans whose fingerprint is in state (historical duplicate)
       or that repeat earlier in THIS batch (first occurrence by
       ``(id, span_id)`` wins — the batch operator's keeper order);
    3. reassemble surviving spans into documents
       (``(id, text, n_spans_kept)``, order-preserving — same output
       contract as the batch operator) and hand them to
       ``sink(out_df, epoch_id)``;
    4. persist ALL of the batch's span fingerprints as this epoch's
       delta (from the whole batch, not the survivors — a duplicate
       span occurrence still proves the span is seen; whole-batch
       deltas stay correct however the batch splits).

    Replaying a batch corpus through this operator in arrival order
    (ascending ``(id, span_id)``) yields EXACTLY the batch operator's
    keep='first'/max_occurrences=1 survivors — asserted by test.
    Divergences, inherent to streaming: ``keep='none'`` and
    ``max_occurrences>1`` need retrospective knowledge (whether a span
    seen now will recur later), which an append-only stream cannot have
    without retractions; documents whose every span is a duplicate are
    emitted by the batch operator's contract as absent — same here.

    State is exact and grows with distinct spans ever seen (parquet,
    mergeable, shared across runs/queries via ``state_dir``); if
    forever-exact state is too large, trade exactness for bounded bits
    with :func:`bloom_dedup_stream` over exploded spans.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from kafi_spark.functions.spans import text_spans

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        seen = _load_fp_state(spark, state_dir, f"{version_prefix}{epoch_id}")
        # null texts pass through unchanged — the batch operator's
        # contract (span_dedup's null leg). Unsplit, a null doc's NULL
        # words array produced one span=NULL row, which came back as
        # (id, '', 1) — an empty-string doc with a phantom kept span —
        # and salted the state with a null fingerprint (round-8 session
        # review, reproduced against the batch twin).
        from kafi_spark.functions.spans import _null_doc_leg
        from kafi_spark.functions.text import ws_tokens as _wst

        nulls = _null_doc_leg(batch_df, text_col, id_col, "n_spans_kept")
        # zero-token docs pass through unchanged too — twin parity with
        # the batch operator's round-9 leg (text_spans now emits no rows
        # for them, so without this they would vanish from the output)
        nulls = nulls.unionByName(
            batch_df.filter(
                F.col(text_col).isNotNull()
                & (F.size(_wst(text_col)) == 0)
            ).select(
                F.col(id_col), F.col(text_col).alias("text"),
                F.lit(0).cast("long").alias("n_spans_kept")))
        spans = text_spans(
            batch_df.filter(F.col(text_col).isNotNull()),
            text_col, id_col, span_tokens
        ).withColumn("__fp", F.xxhash64("span"))
        # two consumers (survivor computation + delta write): anchor once
        spans = spans.localCheckpoint()
        wo = W.partitionBy("__fp").orderBy(F.col(id_col), F.col("span_id"))
        fresh = (
            spans.join(seen, "__fp", "left_anti")
            .withColumn("__rn", F.row_number().over(wo))
            .filter(F.col("__rn") == 1)
        )
        from kafi_spark.functions.spans import _reassemble

        out = _reassemble(fresh, id_col, joiner, "n_spans_kept"
                          ).unionByName(nulls)
        if sink is not None:
            sink(out, epoch_id)
        _save_delta(spans.select("__fp").distinct(), state_dir,
                    f"{version_prefix}{epoch_id}")

    return process


def decontaminate_stream(
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
    sink=None,
):
    """Streaming twin of
    :func:`kafi_spark.functions.contamination.decontaminate`.

    Decontamination is STATELESS with respect to the stream — the
    benchmark gram set is static and each document's verdict depends
    only on its own text — so the twin is the batch operator applied
    per micro-batch via ``foreachBatch`` (Spark's stream-static join
    matrix has no left-anti, which is why this is not a single
    stream-static transformation). Batch and streaming verdicts are
    therefore IDENTICAL per document, any batch split — asserted by
    test.
    """
    from kafi_spark.functions.contamination import decontaminate

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        out = decontaminate(
            batch_df, benchmark, n, text_col, id_col,
            bench_text_col, bench_id_col,
        )
        if sink is not None:
            sink(out, epoch_id)

    return process


def substring_dedup_stream(
    text_col: str,
    id_col: str,
    state_dir: str,
    min_tokens: int = 8,
    sink=None,
    version_prefix: str = "",
):
    """Streaming twin of
    :func:`kafi_spark.functions.spans.substring_dedup` (keep='first',
    max_occurrences=1 — the causal-in-arrival-order configuration, same
    restriction and for the same reason as :func:`span_dedup_stream`).

    ``foreachBatch`` callable maintaining the exact set of sliding
    min_tokens-gram fingerprints ever seen as versioned parquet deltas
    under ``state_dir`` (the :func:`bloom_dedup_stream` delta
    discipline: epoch-keyed overwrites, distinct-union merge —
    idempotent under replay, order-insensitive). Per micro-batch:

    1. slide min_tokens-grams over each document (the batch operator's
       exact fingerprint scheme, spans.py:_sliding_grams);
    2. mark occurrences whose fingerprint is in state (historical
       duplicate) or that repeat a first occurrence earlier in THIS
       batch (first by ``(id, start)`` — the batch keeper order);
    3. union marked intervals per document and cut the covered tokens
       (spans.py:_cut_marked_grams — byte-identical reconstruction to
       the batch operator), hand ``(id, text, n_tokens_removed)`` to
       ``sink(out_df, epoch_id)``; every batch document is emitted,
       fully-duplicated ones with empty text (the batch contract);
    4. persist ALL of the batch's gram fingerprints as this epoch's
       delta (whole-batch, not survivors — replay idempotence).

    Replaying a corpus in ascending ``(id, start)`` arrival order
    reproduces the batch operator's output exactly — asserted by test.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from kafi_spark.functions.dedup import _parallelize
    from kafi_spark.functions.spans import _cut_marked_grams, _sliding_grams

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        seen = _load_fp_state(spark, state_dir, f"{version_prefix}{epoch_id}")
        from kafi_spark.functions.spans import ws_tokens

        bound = _parallelize(batch_df).select(
            F.col(id_col),
            F.col(text_col).alias("__orig"),
            ws_tokens(text_col).alias("__words"),
        )
        # TWO consumers of bound (the gram build and the cut stage):
        # without this anchor the full-text tokenization and round-robin
        # exchange execute twice per micro-batch (round-9 review; same
        # 'anchor once' discipline as the span twin)
        bound = bound.localCheckpoint()
        # two consumers (marks + delta write): anchor the gram explode once
        grams = _sliding_grams(bound, id_col, min_tokens).localCheckpoint()
        wo = W.partitionBy("__fp").orderBy(F.col(id_col), F.col("start"))
        historical = grams.join(seen, "__fp", "left_semi").select(id_col, "start")
        in_batch = (
            grams.join(seen, "__fp", "left_anti")
            .withColumn("__rn", F.row_number().over(wo))
            .filter(F.col("__rn") > 1)
            .select(id_col, "start")
        )
        out = _cut_marked_grams(
            bound, historical.unionByName(in_batch), id_col, min_tokens
        )
        if sink is not None:
            sink(out, epoch_id)
        _save_delta(grams.select("__fp").distinct(), state_dir,
                    f"{version_prefix}{epoch_id}")

    return process


def curate_documents_stream(
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    state_dir: str,
    lang: str = "en",
    min_quality: float = 0.5,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    num_bits: int = 1 << 22,
    bloom_hashes: int = 5,
    seed: int = 42,
    sink=None,
    version_prefix: str = "",
):
    """Streaming twin of the flagship curation pipeline
    (pipeline.py:curate_documents): a ``foreachBatch`` callable chaining
    the same stages incrementally —

    1. quality gate: text_stats language + quality filter (stateless,
       identical to batch);
    2. exact dedup: persisted fingerprint-set state (the
       :func:`span_dedup_stream` delta discipline — epoch-keyed parquet
       deltas, distinct-union merge, replay-idempotent); a document
       drops if its md5 fingerprint was seen in any earlier epoch, or a
       lower-id copy exists in THIS batch;
    3. near-dup: persisted Bloom state over the SAME MinHash-LSH band
       keys the batch operator shuffles (dedup.py:_band_keys) — a
       document drops if any of its band keys is (probably) in state,
       or collides in-batch with a lower-id document's band.

    Arrival-order semantics (documented divergences from batch):
    * the batch pipeline keeps the globally LOWEST id of each duplicate
      component; the stream keeps the FIRST-ARRIVED — replaying a
      corpus in ascending-id order makes the two coincide;
    * the streaming near-dup applies the banded LSH decision directly
      (no exact-Jaccard verification stage — state holds band keys, not
      texts); band parameters control precision the way ``threshold``
      verification does in batch, and Bloom false positives OVER-drop
      (a sliver of genuinely-new docs) rather than under-drop;
    * within one batch the per-band lowest-id rule approximates the
      batch connected-components closure — an in-batch chain whose
      middle member has the highest id can keep one extra doc; across
      batches chains close exactly, because EVERY exact-new document's
      bands enter state (survivor or not — the component-closure
      choice, matching batch CC reachability).

    Replay discipline (the :func:`bloom_dedup_stream` contract): both
    states exclude the current epoch's own delta on load, and both
    deltas are built from the whole batch (not survivors), so a crash-
    replayed epoch sees the exact pre-epoch state and re-emits
    byte-identically.

    Emits ``(id, n_tokens, quality)`` — the batch pipeline's projection
    — to ``sink(out_df, epoch_id)``.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from kafi_spark.functions.bloom import (
        bloom_build, bloom_contains, bloom_load_state, bloom_save_delta)
    from kafi_spark.functions.dedup import _band_keys, _parallelize
    from kafi_spark.functions.text import text_stats

    exact_dir = f"{state_dir.rstrip('/')}/exact"
    bands_dir = f"{state_dir.rstrip('/')}/bands"

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        ver = f"{version_prefix}{epoch_id}"
        batch = _parallelize(batch_df)

        # 1. quality gate (identical to batch stage 1)
        stats = text_stats(batch, text_col, id_col)
        kept = stats.filter(
            (F.col("lang_guess") == lang) & (F.col("quality") >= min_quality)
        )

        # 2. exact dedup: historical state + in-batch lowest-id window.
        # Checkpoint once: `kept` feeds the exact delta, the survivor
        # set, and (via join) the near-dup stage (sanctioned barrier,
        # same as the batch pipeline's survivor checkpoint).
        kept = kept.localCheckpoint()
        seen_fp = _load_fp_state(
            spark, exact_dir, ver, fp_type="string"
        ).withColumnRenamed("__fp", "fingerprint")
        exact_new = (
            kept.join(seen_fp, "fingerprint", "left_anti")
            .withColumn(
                "__rn",
                F.row_number().over(
                    W.partitionBy("fingerprint").orderBy(id_col)
                ),
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

        # 3. near-dup over band keys: historical Bloom probe + in-batch
        # per-band lowest id. Band keys for every exact-new doc compute
        # once (checkpoint: delta write + probe + window all consume).
        docs = batch.select(id_col, text_col).join(
            exact_new.select(id_col), id_col, "left_semi"
        )
        keys = _band_keys(docs, text_col, id_col, k, num_hashes, bands, seed)
        keys = keys.withColumn(
            "__bk", F.concat_ws(":", F.col("band_id"), F.col("band_hash"))
        ).localCheckpoint()
        state = bloom_load_state(spark, bands_dir, exclude_version=ver)
        probed = bloom_contains(
            keys, state, "__bk", num_bits, bloom_hashes, seed
        )
        wb = W.partitionBy("band_id", "band_hash")
        flagged = probed.withColumn(
            "__min_id", F.min(id_col).over(wb)
        ).withColumn(
            "__dup",
            F.col("probably_seen") | (F.col("__min_id") < F.col(id_col)),
        )
        dup_ids = (
            flagged.groupBy(id_col)
            .agg(F.max(F.col("__dup").cast("int")).alias("__d"))
            .filter(F.col("__d") == 1)
            .select(id_col)
        )
        out = (
            exact_new.join(dup_ids, id_col, "left_anti")
            .select(id_col, "n_tokens", "quality")
        )
        if sink is not None:
            sink(out, epoch_id)

        # deltas from the WHOLE batch, not survivors (replay idempotence
        # + component closure — see bloom_dedup_stream's delta comment)
        _save_delta(
            kept.select(F.col("fingerprint").alias("__fp")).distinct(),
            exact_dir, ver)
        delta = bloom_build(
            keys.select("__bk"), "__bk", num_bits, bloom_hashes, seed
        )
        bloom_save_delta(delta, bands_dir, ver)

    return process


def distinct_sketch_stream(
    key_col: str,
    time_col: str,
    state_dir: str,
    grain: str = "day",
    dims=(),
    lgk: int | None = None,
    sink=None,
    version_prefix: str = "",
    kind: str = "hll",
):
    """Streaming twin of :func:`kafi_spark.functions.sketches.
    distinct_over_time` / :func:`theta_over_time`: a ``foreachBatch``
    callable maintaining persisted per-bucket distinct sketches
    incrementally. ``kind="theta"`` keeps the same state discipline
    (theta union is just as idempotent) while the persisted binaries
    additionally answer intersection/difference roll-ups — e.g. feed
    :func:`sketches.sketch_retention` the totals frame.

    Per micro-batch: (1) sketch the batch's keys per
    ``(date_trunc(grain), *dims)`` group, (2) persist as this epoch's
    delta (``v=<epoch>``, idempotent overwrite), (3) hand ``sink`` the
    RUNNING totals — merged estimates over the whole state, i.e. the
    same frame :func:`sketches.sketch_totals` serves ad hoc.

    Unlike the bloom/fingerprint twins, the emission here is a state
    SUMMARY, so no own-epoch exclusion is needed for replay safety:
    HLL union is idempotent (register-wise max) and a replayed epoch
    rebuilds a delta over the identical batch, so totals after the
    replay equal totals after the first attempt — crash-replay
    emissions match without excluding anything. State volume is one
    sketch (≤ 2^lgk bytes) per group per epoch; fold with
    :func:`sketches.sketch_compact` on long-running streams.
    """
    from kafi_spark.functions.sketches import (
        _DEFAULT_LGK, _DEFAULT_THETA_LGK, distinct_over_time,
        sketch_save_delta, sketch_totals, theta_over_time)

    if kind not in ("hll", "theta"):
        raise ValueError(f"kind must be 'hll' or 'theta', got {kind!r}")
    build = distinct_over_time if kind == "hll" else theta_over_time
    if lgk is None:
        lgk = _DEFAULT_LGK if kind == "hll" else _DEFAULT_THETA_LGK

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        delta = build(
            batch_df, key_col, time_col, grain, dims, lgk
        ).drop("distinct_est")
        sketch_save_delta(delta, state_dir,
                          f"{version_prefix}{epoch_id}")
        if sink is not None:
            totals = sketch_totals(
                batch_df.sparkSession, state_dir, ["bucket", *dims],
                kind=kind,
                # theta union has its own precision cap: merge at the
                # BUILD lgk so high-precision state isn't downsampled
                lgk=lgk if kind == "theta" else None,
            )
            sink(totals, epoch_id)

    return process


def quantile_sketch_stream(
    value_col: str,
    time_col: str,
    state_dir: str,
    grain: str = "day",
    dims=(),
    k: int = 200,
    dtype: str | None = None,
    sink=None,
):
    """Streaming twin of :func:`kafi_spark.functions.sketches.
    quantiles_over_time`: a ``foreachBatch`` callable maintaining
    persisted per-bucket KLL quantile sketches incrementally.

    KLL merge is ADDITIVE (not idempotent), so the replay discipline
    differs from the HLL/bloom twins in mechanism but not in outcome:
    each epoch's rows land in exactly one ``v=<epoch>`` delta, a
    replayed epoch OVERWRITES its own delta (so its values are counted
    once, never twice), and the read path (:func:`sketches.kll_totals`)
    merges each committed delta exactly once under the compaction
    watermark. The emission is a state summary, so crash-replay
    emissions match the first attempt's byte-for-byte.
    """
    from kafi_spark.functions.sketches import (
        _kll_dtype_of, kll_save_delta, kll_totals, quantiles_over_time)

    resolved = {"dtype": dtype}

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if resolved["dtype"] is None:
            resolved["dtype"] = _kll_dtype_of(batch_df, value_col)
        delta = quantiles_over_time(
            batch_df, value_col, time_col, grain, dims, k,
            resolved["dtype"],
        )
        kll_save_delta(delta, state_dir, epoch_id)
        if sink is not None:
            totals = kll_totals(
                batch_df.sparkSession, state_dir, ["bucket", *dims],
                resolved["dtype"], k,
            )
            sink(totals, epoch_id)

    return process


def cms_sketch_stream(
    key_col: str,
    time_col: str,
    state_dir: str,
    grain: str = "day",
    dims=(),
    depth: int = 5,
    width: int = 4096,
    sink=None,
):
    """Streaming twin of :func:`kafi_spark.functions.sketches.
    cms_over_time`: a ``foreachBatch`` callable maintaining persisted
    per-bucket count-min counter tables incrementally.

    Additive state with the KLL replay discipline: each epoch's rows
    land in exactly one ``v=<epoch>`` delta (replay = overwrite own
    delta), and :func:`sketches.cms_totals` merges each committed delta
    exactly once under the compaction watermark. ``sink`` receives the
    RUNNING merged counter table — probe it with
    :func:`sketches.cms_estimate` for frequencies over the whole
    history so far."""
    from kafi_spark.functions.sketches import (
        cms_over_time, cms_totals, kll_save_delta)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        delta = cms_over_time(
            batch_df, key_col, time_col, grain, dims, depth, width)
        kll_save_delta(delta, state_dir, epoch_id)
        if sink is not None:
            totals = cms_totals(
                batch_df.sparkSession, state_dir, ["bucket", *dims])
            sink(totals, epoch_id)

    return process


def perplexity_buckets_stream(
    reference: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    by: str | None = None,
    cuts=(1 / 3, 2 / 3),
    labels=("tail", "middle", "head"),
    n_buckets: int = 65_536,
    k: int = 200,
    out_col: str = "ppl_bucket",
    sink=None,
):
    """Streaming twin of :func:`kafi_spark.functions.importance.
    perplexity_buckets` — CCNet head/middle/tail banding over a live
    stream, with the global/per-group score quantiles maintained as
    persisted KLL state instead of a full-corpus ``percentile_approx``.

    Per micro-batch: (1) score the batch against the STATIC reference
    LM (:func:`importance.lm_quality_score` — the reference corpus is a
    batch frame, fit once per epoch from a bounded hash model), (2)
    persist the batch's per-group KLL score sketches as this epoch's
    delta (idempotent per-epoch overwrite — the additive-state
    discipline of :func:`quantile_sketch_stream`), (3) band the batch
    against the cut points of the ACCUMULATED state (every epoch so
    far, merged under the compaction watermark by
    :func:`sketches.kll_totals`) and hand ``sink`` the batch rows +
    ``lm_score`` + ``out_col``.

    Semantics vs the batch op, both documented and tested: the batch
    op's percentile_approx over the full corpus becomes KLL quantiles
    over everything ARRIVED SO FAR — early batches band against fewer
    observations (arrival-order semantics), and the cuts carry KLL
    rank error (±1.65% at k=200) instead of percentile_approx's
    ``accuracy``. Scores themselves are deterministic and identical to
    the batch op's. Null-`by` rows and no-token docs band to null
    exactly like the batch op (shared ``_band_case_expr``).

    Replay-idempotent: a replayed epoch overwrites its own delta with
    identical bytes and re-bands against identical totals (the delta is
    saved BEFORE totals are read on both attempts), so emissions match
    byte-for-byte. Long-running streams fold state with
    :func:`sketches.kll_compact`.
    """
    from kafi_spark.functions.importance import (
        _band_case_expr, _validate_bands, lm_quality_score)
    from kafi_spark.functions.sketches import (
        _kll_fns, kll_save_delta, kll_totals, quantile_sketch)

    _validate_bands(cuts, labels)
    group = [by] if by is not None else []

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        lm = lm_quality_score(
            batch_df, reference, text_col, id_col, n_buckets=n_buckets)
        # no-token docs carry no signal: null their score so they
        # neither band nor drag the tail cut down (same policy and
        # same sanctioned checkpoint barrier as the batch op — the
        # scored frame feeds both the sketch delta and the band join)
        # rlike('\S') short-circuits at the first non-ws char (\n-only
        # docs are no-signal too; F.trim strips ASCII spaces only)
        has_signal = F.col(text_col).rlike(r"\S").alias("__has")
        keyed = (
            batch_df.select(id_col, *group, has_signal)
            .join(lm, id_col, "left")
            .withColumn("lm_score", F.when(F.col("__has"), F.col("lm_score")))
            .drop("__has")
            .localCheckpoint()
        )
        delta = quantile_sketch(
            keyed.filter(F.col("lm_score").isNotNull()),
            "lm_score", group, k, "double",
        )
        kll_save_delta(delta, state_dir, epoch_id)
        if sink is None:
            return
        totals = kll_totals(spark, state_dir, group, "double", k)
        qfn = _kll_fns("double")["quantile"]
        cuts_frame = totals.select(
            *group,
            F.array(
                *[qfn(F.col("qsketch"), F.lit(float(c))) for c in cuts]
            ).alias("__cuts"),
        )
        if group:
            banded = keyed.join(F.broadcast(cuts_frame), by, "left")
        else:
            banded = keyed.crossJoin(F.broadcast(cuts_frame))
        labeled = banded.select(
            F.col(id_col), F.col("lm_score"),
            _band_case_expr("__cuts", labels).alias(out_col),
        )
        out = batch_df.join(labeled, id_col, "left").select(
            *batch_df.columns, "lm_score", out_col)
        sink(out, epoch_id)

    return process


def corpus_report_stream(
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lgk: int = 12,
    kll_k: int = 200,
    sink=None,
):
    """Streaming twin of :func:`kafi_spark.functions.profile.
    corpus_report`: a ``foreachBatch`` callable maintaining a live
    dataset card — size, duplicate rate, token distribution, quality
    moments, language mix — as documents land, WITHOUT ever rescanning
    the corpus.

    Three state families under ``state_dir``, each on the discipline
    its algebra requires:

    - ``hll/`` — distinct-text sketches (fingerprint HLL). Idempotent
      union: replay-safe by algebra alone.
    - ``kll/`` — token-count quantile sketches. Additive: the epoch
      delta + watermark read discipline (`kll_totals`).
    - ``counters/`` — additive long-format counter rows (rows, token/
      char totals, quality sum, per-language counts). Same epoch
      discipline as KLL (each row in exactly one ``v=<epoch>``, replay
      overwrites its own delta, reads fold each committed delta once
      via the shared `_kll_state_dirs` watermark reader).

    Per micro-batch: one `text_stats` pass over the batch feeds all
    three deltas; the batch frame is checkpointed so the regex scan
    runs once, not once per aggregate. ``sink`` (if given) receives
    :func:`corpus_report_totals`'s frame — the same (section, metric,
    value) schema the batch report emits. Totals derived from exact
    counters (rows, totals, means, language mix) match the batch
    report exactly; ``distinct_texts``/``dup_rate`` and the token
    percentiles are sketch estimates.
    """
    from kafi_spark.functions.sketches import (
        distinct_sketch, kll_save_delta, quantile_sketch, sketch_save_delta)
    from kafi_spark.functions.text import text_stats

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        stats = text_stats(batch_df, text_col, id_col).localCheckpoint()
        root = state_dir.rstrip("/")
        sketch_save_delta(
            distinct_sketch(stats, "fingerprint", lgk=lgk),
            f"{root}/hll", epoch_id)
        kll_save_delta(
            quantile_sketch(stats, "n_tokens", dtype="bigint", k=kll_k),
            f"{root}/kll", epoch_id)
        counters = stats.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("quality").alias("sum_quality"),
            # separate divisor for the quality mean: null-text docs have
            # null quality, and the batch report's avg() skips them —
            # dividing by `rows` would silently deflate the mean
            F.count("quality").alias("n_quality"),
        ).select(F.explode(F.array(*[
            F.struct(F.lit("global").alias("section"),
                     F.lit(m).alias("metric"),
                     F.col(m).cast("double").alias("value"))
            for m in ("rows", "total_tokens", "total_chars", "sum_quality",
                      "n_quality")
        ])).alias("e")).select("e.*").unionByName(
            stats.groupBy("lang_guess").count().select(
                F.lit("lang").alias("section"),
                F.coalesce("lang_guess", F.lit("unknown")).alias("metric"),
                F.col("count").cast("double").alias("value"),
            ))
        kll_save_delta(counters, f"{root}/counters", epoch_id)
        if sink is not None:
            sink(corpus_report_totals(batch_df.sparkSession, state_dir,
                                      kll_k=kll_k), epoch_id)

    return process


def corpus_report_totals(spark, state_dir: str, kll_k: int = 200) -> DataFrame:
    """Assemble the live dataset card from
    :func:`corpus_report_stream`'s persisted state — (section, metric,
    value STRING), the same shape as the batch
    :func:`~kafi_spark.functions.profile.corpus_report`. Reads ONLY
    state rows (sketches + counters): cost is independent of corpus
    size."""
    from kafi_spark.functions.sketches import (
        kll_totals, quantile_values, sketch_totals)
    from kafi_spark.functions.state import watermark_paths

    root = state_dir.rstrip("/")
    # the shared committed-read-set helper, WITH its empty-paths guard:
    # a first epoch crashed mid-counters-write leaves the dir present
    # but without any committed delta, and a bare spark.read.parquet()
    # of zero paths raises an opaque path error instead of a clear
    # no-state signal (round-9 review; same guard kll_totals has)
    paths = watermark_paths(f"{root}/counters", spark=spark)
    if not paths:
        raise FileNotFoundError(
            f"no committed counter state under {root}/counters — "
            "has corpus_report_stream completed an epoch?")
    counters = (
        spark.read.parquet(*paths)
        .groupBy("section", "metric").agg(F.sum("value").alias("value"))
    )
    hll = sketch_totals(spark, f"{root}/hll").select(
        F.lit("global").alias("section"),
        F.lit("distinct_texts").alias("metric"),
        F.col("distinct_est").cast("double").alias("value"))
    kll = quantile_values(
        kll_totals(spark, f"{root}/kll", dtype="bigint", k=kll_k),
        [0.5, 0.95], dtype="bigint",
    ).select(F.explode(F.array(
        F.struct(F.lit("global").alias("section"),
                 F.lit("p50_tokens").alias("metric"),
                 F.col("q50").cast("double").alias("value")),
        F.struct(F.lit("global").alias("section"),
                 F.lit("p95_tokens").alias("metric"),
                 F.col("q95").cast("double").alias("value")),
    )).alias("e")).select("e.*")

    base = counters.unionByName(hll).unionByName(kll)
    # derived metrics need the scalar counters; they are a handful of
    # rows — pivot via a broadcast self-join on the tiny frame
    wide = (
        base.filter("section = 'global'")
        .groupBy().pivot("metric").agg(F.first("value"))
    )
    if "n_quality" not in wide.columns:
        # counters persisted before the n_quality metric existed: fall
        # back to rows as the divisor (the old behavior) instead of
        # failing the pivot lookup on legacy state
        wide = wide.withColumn("n_quality", F.col("rows"))
    derived = wide.select(F.explode(F.array(
        F.struct(F.lit("global").alias("section"),
                 F.lit("mean_tokens").alias("metric"),
                 (F.col("total_tokens") / F.col("rows")).alias("value")),
        F.struct(F.lit("global").alias("section"),
                 F.lit("mean_quality").alias("metric"),
                 (F.col("sum_quality") / F.col("n_quality")).alias("value")),
        F.struct(F.lit("global").alias("section"),
                 F.lit("dup_rate").alias("metric"),
                 # clamp: HLL can overshoot the true row count slightly
                 F.greatest(
                     F.lit(0.0),
                     F.lit(1.0) - F.col("distinct_texts") / F.col("rows"))
                 .alias("value")),
    )).alias("e")).select("e.*")
    return base.unionByName(derived).select(
        "section", "metric", F.col("value").cast("string").alias("value"))


def dedup_against_stream(
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket: int = 10_000,
    sink=None,
):
    """Streaming twin of :func:`kafi_spark.functions.dedup.
    dedup_against`: a ``foreachBatch`` callable maintaining the
    ACCUMULATED deduped corpus as persisted state — each micro-batch is
    LSH-joined against every prior survivor, survivors append to state,
    near-matches of history drop.

    State under ``state_dir``, two families per epoch:

    - ``bands/v=<epoch>`` — survivors' band keys (id, band_id,
      band_hash). The next epoch joins the NEW batch's band keys
      against these directly (:func:`dedup._lsh_join_from_bands`), so
      the accumulated corpus is never re-shingled or re-hashed — the
      per-epoch cost is O(batch) band computation plus a join whose
      state side carries ``bands``-many longs per historical doc.
    - ``docs/v=<epoch>`` — survivors' (id, text), the verification
      store for candidate pairs. Only candidate ids' texts are ever
      read into the join (column-pruned parquet scan).

    Replay discipline: the bloom family's — state loads EXCLUDE the
    current epoch's own delta (a crash-replayed epoch would otherwise
    find its own previous partial write and drop every row as a
    self-match), writes are idempotent per-epoch overwrites, and
    uncommitted deltas (no ``_SUCCESS``) are invisible.

    Within-batch near-dups both survive, exactly like the batch gate
    (its documented contract — run :func:`dedup.minhash_lsh_pairs` on
    the batch first when within-batch dedup is also wanted).

    ``sink`` (if given) receives the epoch's SURVIVOR frame.
    """
    from kafi_spark.functions.dedup import _band_keys, _lsh_join_from_bands

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        root = state_dir.rstrip("/")
        batch = batch_df.select(id_col, text_col).localCheckpoint()
        bb = _band_keys(
            batch, text_col, id_col, k, num_hashes, bands, seed
        ).localCheckpoint()

        # pass the batch's own session through (round-9 review: the old
        # spark=None wrapper made scheme:// state dirs depend on the
        # active-session fallback instead)
        band_dirs = _dedup_state_paths(f"{root}/bands", epoch_id, spark)
        if band_dirs:
            state_bands = spark.read.parquet(*band_dirs)
            state_docs = spark.read.parquet(
                *_dedup_state_paths(f"{root}/docs", epoch_id, spark))
            hits = _lsh_join_from_bands(
                bb, state_bands, batch, state_docs,
                text_col, id_col, k, threshold, max_bucket)
            survivors = batch.join(
                hits.select(F.col("left_id").alias(id_col)).distinct(),
                id_col, "left_anti").localCheckpoint()
        else:
            survivors = batch
        sb = bb.join(survivors.select(id_col), id_col, "left_semi")
        _save_delta(sb, f"{root}/bands", epoch_id)
        _save_delta(survivors, f"{root}/docs", epoch_id)
        if sink is not None:
            sink(survivors, epoch_id)

    return process


def _dedup_state_paths(root: str, exclude_epoch: int, spark=None) -> list[str]:
    """Committed state dirs for one dedup-state family: the newest
    ``compact-N`` fold (if any) plus epochs > N — the shared
    `_kll_state_dirs` watermark reader — minus the CURRENT epoch's own
    delta (crash-replay exclusion). Band/doc rows are idempotent sets,
    so even a stale-leftover double-read would only be wasted IO, never
    wrong results; the watermark read keeps it from happening anyway."""
    from kafi_spark.functions.state import watermark_paths

    return watermark_paths(root, exclude_epoch, spark)


def dedup_state_compact(spark, state_dir: str) -> int:
    """Fold the incremental-dedup state's per-epoch deltas into one
    ``v=compact-<N>`` dir per family (bands, docs), where N is the
    newest live epoch MINUS ONE — the newest epoch is deliberately
    left OUT of the fold and alive as ``v=<epoch>``. foreachBatch is
    at-least-once until the streaming checkpoint commits, so the
    newest epoch can still be crash-replayed; if its rows were inside
    the compact, the replay's own-epoch exclusion (which filters only
    live ``v=`` dirs) could not hide them and every batch doc would
    drop as its own near-match. Epochs ≤ N are fully committed in BOTH
    families (epochs are sequential: bands+docs of epoch k complete
    before epoch k+1 starts), so folding them is replay-safe. The
    watermark is computed from the state, never caller-chosen (a value
    above the newest epoch would make later deltas invisible and
    silently disable the gate). Returns N (or the existing watermark /
    -1 when there is nothing new to fold)."""
    from kafi_spark.functions.state import committed_dirs

    root = state_dir.rstrip("/")
    try:
        best_n, _, live = committed_dirs(f"{root}/bands", spark)
    except FileNotFoundError:
        return -1
    if not live:
        return best_n if best_n is not None else -1
    newest = max(int(p.rsplit("v=", 1)[1]) for p in live)
    watermark = newest - 1
    if best_n is not None and watermark <= best_n:
        return best_n                      # nothing new below the fence
    import os

    def foldable(paths):
        out = []
        for p in paths:
            tag = os.path.basename(p)[2:]
            if tag.startswith("compact-") or int(tag) <= watermark:
                out.append(p)
        return out

    for fam in ("bands", "docs"):
        paths = foldable(_dedup_state_paths(f"{root}/{fam}",
                                            exclude_epoch=-1, spark=spark))
        if not paths:
            continue
        folded = spark.read.parquet(*paths).distinct().localCheckpoint()
        folded.write.mode("overwrite").parquet(
            f"{root}/{fam}/v=compact-{watermark}")
    return watermark
