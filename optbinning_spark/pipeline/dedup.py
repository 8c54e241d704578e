"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash.

Designed for the 100 TB regime:
- exact dedup is a hash groupBy (one shuffle on a 32-hex key);
- MinHash signatures are computed scan-side with pure expressions
  (md5 per shingle, array_min) — no UDF, no shuffle;
- LSH banding turns near-dup search into an equi-join on band keys
  (shuffle on band hash, candidate pairs only);
- n-gram Jaccard verification joins only on shingles below a
  document-frequency cap, which bounds the join fan-out (the classic
  hot-shingle skew guard).

Hashes are md5 (hex strings) so every operator is reproducible in
ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.fastlit import sql_ident

# observability for use_window="auto" (tests + post-hoc diagnosis):
# caller name -> {"estimated_hottest": int, "use_window": bool}.
# Diagnostic only, last-call-wins per caller name — concurrent calls
# from multiple threads overwrite each other's entry; the decision
# that actually governed a given plan is the one the plan's shape
# shows (Window vs Join), not this dict.
AUTO_WINDOW_DECISIONS: dict[str, dict] = {}

# probe-decision memo: (caller, probe-plan semanticHash) -> decision.
# The probe costs up to one extra scan of the text column (sample is
# a row filter, not a scan pruner) — repeated calls over the SAME
# logical input (bench reps, retried stages, a pipeline run twice)
# should pay it once. Keyed by the PROBE plan's semantic hash, which
# covers the source relation, any upstream filters, and the shingle
# parameters; a different corpus/filter/params hashes differently.
# The semantic hash does NOT see the files behind a path, so entries
# carry a monotonic timestamp and expire after _PROBE_DECISION_TTL_S
# — a corpus that is appended/rewritten and turns hot mid-session is
# re-probed within the TTL instead of keeping a stale window shape
# forever. On expiry the leaf-file listing is checked FIRST (a
# driver-side file-index lookup, no job): an unchanged listing
# refreshes the stamp without re-scanning — round 12's bench showed
# the blind TTL re-probe re-taxing the three shingle-path headline
# queries (+8-11%) on a corpus that had not changed. Clear with
# _PROBE_DECISION_CACHE.clear() to force an immediate re-probe after
# a known in-place rewrite (same file names — the one mutation the
# listing check cannot see).
_PROBE_DECISION_CACHE: dict[tuple, tuple[bool, float, "str | None"]] = {}
_PROBE_DECISION_TTL_S = 600.0


def _files_signature(df: DataFrame) -> "str | None":
    """Cheap identity of the leaf files behind a plan: count + hash of
    the sorted inputFiles() listing (appends add files, overwrites
    rename part files — both change the signature). None when the
    plan has no file source (in-memory frames) or listing fails."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    # a stable digest, not hash(): CPython string hashing is
    # salt-randomized per process, so a future cross-process cache
    # (today the probe memo is in-process only) would silently never
    # match its own stamps. 64-bit blake2b, not crc32: at 32 bits a
    # same-file-count listing collision silently reuses a stale memo —
    # negligible for the in-process TTL cache, but the cross-process
    # persistence this stamp is designed for needs the wider digest.
    listing = "\x00".join(sorted(files)).encode("utf-8", "surrogatepass")
    digest = hashlib.blake2b(listing, digest_size=8).hexdigest()
    return f"{len(files)}:{digest}"


def _resolve_use_window(keyed_sample: DataFrame, key_col: str, caller: str,
                        hot_threshold: int,
                        probe_fraction: float) -> bool:
    """Auto hot-key escape for the window-vs-two-phase choice shared
    by ngram_jaccard_pairs and duplicate_ngram_spans — called only
    when the caller's ``use_window`` is "auto" (explicit True/False
    never reach the probe).

    The window path is the measured winner in every regime we can
    build (see ngram_jaccard_pairs' docstring A/B), but its failure
    mode is silent: ONE key with hundreds of millions of rows makes
    one straggler task sort while the cluster idles, and nothing
    warns the caller. With ``use_window="auto"`` a cheap probe
    decides: count keys over ``keyed_sample`` — the SAME key subtree
    the caller builds, but constructed over a ``probe_fraction``
    DOCUMENT sample so the probe evaluates 0.5% of the explode, not
    all of it (sampling the exploded rows instead was measured +1.5 s
    on the sf0.1 jaccard query: a post-explode sample still pays the
    full subtree). The probe agg is map-side combinable (absorbs the
    very hot keys it is looking for); the sampled max scales by
    1/fraction, and the two-phase shape is chosen iff the estimated
    hottest key would exceed ``hot_threshold`` rows in one window
    partition. The default threshold (20M) sits ~12x above the
    largest adversarial fixture we measured the window WINNING on
    (1.6M hot-key rows: 11.0s window vs 23.3s two-phase), and far
    below the hundreds-of-millions regime where the straggler
    argument actually bites.

    Estimator note: document sampling is an unbiased occurrence
    estimator (each doc's contribution included with probability p);
    a hot key CONCENTRATED in a handful of enormous documents has
    higher probe variance — but that corpus also bounds the window
    partition by those documents' length, so the miss is benign.
    Deterministic (fixed sample seed).

    Laziness caveat: the probe is an ACTION at plan-construction time
    (the physical shape must be chosen before the plan exists), and
    ``df.sample`` does not prune upstream work — it is a row filter,
    so the probe pays up to one extra SCAN of the text column plus
    the 0.5%-rate explode/agg. Measured on the 500k-doc organic
    corpus: ~1-2 s on an ~18 s jaccard query (~10%), amortized to
    zero on repeated calls by the plan-keyed decision memo below. If
    ``df`` is an expensive uncached pipeline rather than a table
    scan, cache the input or pin ``use_window`` explicitly."""
    try:
        # the plan hash covers source/filters/shingle params AND the
        # sample fraction; the threshold is config, so it keys too
        key = (caller, hot_threshold,
               keyed_sample._jdf.queryExecution().logical().semanticHash())
    except Exception:
        key = None
    import time
    now = time.monotonic()
    if key is not None and key in _PROBE_DECISION_CACHE:
        decision, stamp, files_sig = _PROBE_DECISION_CACHE[key]
        if now - stamp < _PROBE_DECISION_TTL_S:
            AUTO_WINDOW_DECISIONS[caller] = {
                "estimated_hottest": None, "use_window": decision,
                "cached": True}
            return decision
        # expired: before paying a re-scan, check whether the files
        # behind the (semantically identical) plan actually changed —
        # same listing means the old decision still describes this
        # corpus, so refresh the stamp instead of re-probing
        if files_sig is not None \
                and _files_signature(keyed_sample) == files_sig:
            _PROBE_DECISION_CACHE[key] = (decision, now, files_sig)
            AUTO_WINDOW_DECISIONS[caller] = {
                "estimated_hottest": None, "use_window": decision,
                "cached": True, "ttl_refreshed": True}
            return decision
        del _PROBE_DECISION_CACHE[key]  # files changed: re-probe
    row = (keyed_sample.groupBy(key_col).count()
           .agg(F.max("count").alias("m")).first())
    est = int((row["m"] or 0) / probe_fraction)
    decision = est < hot_threshold
    AUTO_WINDOW_DECISIONS[caller] = {
        "estimated_hottest": est, "use_window": decision}
    if key is not None:
        _PROBE_DECISION_CACHE[key] = (
            decision, now, _files_signature(keyed_sample))
    return decision


def shingles_from_words(words: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an ALREADY-MATERIALIZED words array
    column. Callers must project the split() into a real column first:
    codegen re-evaluates a non-aliased split() once per lambda
    reference (measured ~4x slower on the jaccard pipeline).

    NULL-safe: NULL words (NULL text) yield a NULL array — NOT a
    phantom [''] shingle. Before this guard, size(NULL) -> NULL,
    greatest(NULL, 0) -> 0, and concat_ws over the NULL slice -> '',
    so every NULL-text document silently carried the same ''
    shingle as every EMPTY document — NULL docs gained minhash
    signatures, banded together, and (found by the r16 adversarial
    corpus fuzz) pushed the '' shingle over ngram_jaccard_pairs'
    df-cap, deleting real empty-doc pairs from the output. A doc
    with no words list has no shingles. Short non-NULL docs
    (< n words) keep their single partial shingle — that behavior
    is pinned by the r15 oracles."""
    return F.when(
        words.isNull(), F.lit(None).cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0),
                       F.greatest(F.size(words) - F.lit(n), F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        )
    )


def shingles_expr(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array column (deterministic,
    whitespace tokens). Expression-level API: prefer the two-phase
    projection via shingles_from_words inside DataFrame pipelines."""
    return shingles_from_words(F.split(text, " "), n)


def shingles_from_words_sql(words_sql: str, n: int = 3) -> str:
    """SQL rendering of shingles_from_words over an already-projected
    words column — the driver-latency fast path (one parsed F.expr
    round trip instead of ~10 Column-op py4j calls; same NULL-words
    guard, same expression tree operator for operator)."""
    return (
        f"CASE WHEN {words_sql} IS NULL THEN CAST(NULL AS ARRAY<STRING>)"
        f" ELSE transform(sequence(0, greatest(size({words_sql}) - {n},"
        f" 0)), i -> concat_ws(' ', slice({words_sql}, i + 1, {n}))) END"
    )


def minhash_expr(text: Column, seed: int, shingle_n: int = 3) -> Column:
    """MinHash for one hash function: min over shingles of
    md5('s<seed>|' || shingle). Lexicographic min over hex strings is a
    valid uniform min-hash."""
    sh = shingles_expr(text, shingle_n)
    return F.array_min(
        F.transform(sh, lambda s: F.md5(F.concat(F.lit(f"s{seed}|"), s)))
    )


def staged_minhash_arrays(
    df: DataFrame,
    text_col: str,
    shingle_n: int,
    n_hashes: int,
    keep_cols: list,
    extra_from_shingles: "dict | None" = None,
) -> DataFrame:
    """Shared staging for every MinHash consumer (batch signatures AND
    streaming signature dedup use THIS — one definition of the
    salt/lane layout, so the two can't drift): project words, then the
    shingle array, then each salted md5 array __h{k} — each
    materialized ONCE. Referencing the expression directly from
    downstream columns makes codegen recompute it per reference
    (measured ~2.6x slower for the md5 transforms, ~4x for the split
    inside the shingle lambda).

    ``extra_from_shingles`` ({name: fn(shingle_col) -> Column}) lets a
    caller derive additional per-doc columns from the SAME
    materialized shingle array in the same projection level — e.g.
    duplicate_clusters' verify arrays, so banding and verification
    share one text scan instead of two (r17)."""
    # Computed columns are built as parsed SQL strings — one py4j
    # round trip each instead of one per Column METHOD call (~0.45 ms
    # of socket latency each; the Column-op version of this staging
    # cost ~0.2 s of pure driver latency per consumer). Identical
    # expression trees (md5/concat/transform over the same projected
    # columns), asserted value-identical in tests/test_pipeline.py.
    n_salts = (n_hashes + 3) // 4
    extras = [
        fn(F.col("__sh")).alias(name)
        for name, fn in (extra_from_shingles or {}).items()
    ]
    return (
        df.select(*keep_cols,
                  F.expr(f"split({sql_ident(text_col)}, ' ')").alias("__w"))
        .select(
            *keep_cols,
            F.expr(shingles_from_words_sql("`__w`", shingle_n))
            .alias("__sh"))
        .select(
            *keep_cols,
            *[F.expr("transform(`__sh`, s -> md5(concat('s%d|', s)))"
                     % k).alias(f"__h{k}") for k in range(n_salts)],
            *extras,
        )
    )


def minhash_lane_cols(n_hashes: int) -> list:
    """The mh0..mh{n-1} lane expressions over staged __h{k} arrays:
    mh{i} = min over shingles of lane (i % 4) of md5('s{i//4}|' || s).
    md5 is 128 bits = four independent 32-bit lanes, so each salted
    md5 yields FOUR hash functions (standard k-bit slicing) — a
    16-hash signature costs 4 md5 calls per shingle instead of 16."""
    cols = []
    for i in range(n_hashes):
        salt, lane = divmod(i, 4)
        off = lane * 8 + 1
        cols.append(
            F.expr(f"array_min(transform(`__h{salt}`, "
                   f"h -> substring(h, {off}, 8)))").alias(f"mh{i}"))
    return cols


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document MinHash signature columns mh0..mh{n-1}. Map-only;
    see staged_minhash_arrays / minhash_lane_cols for the layout.

    A NULL-text document has no shingles and therefore NO signature —
    its row is dropped. Keeping phantom rows would band all NULL docs
    together downstream in lsh_candidate_pairs. The drop is a
    text-IS-NOT-NULL filter on the INPUT, not a post-hoc filter on
    mh0: mh0 is NULL iff text is NULL (every non-NULL text — even ''
    — yields a non-empty shingle array, so every lane min is
    defined), and filtering the raw column pushes to the parquet scan,
    whereas a filter on the mh0 alias gets pushed through the staged
    projections by alias substitution — Catalyst re-inlines the whole
    split->shingle->md5->array_min chain into the predicate and the
    map stage runs it twice (measured 1.8x slower on
    duplicate_clusters at sf0.1; the r16 regression watch caught it
    as ab_confirmed_code_regression)."""
    staged = staged_minhash_arrays(
        df.filter(F.col(text_col).isNotNull()),
        text_col, shingle_n, n_hashes, [F.col(id_col)])
    return staged.select(F.col(id_col), *minhash_lane_cols(n_hashes))


def lsh_bands(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Band the signature: band key = md5(concat of band's minhashes).
    Docs sharing a band key are near-dup candidates."""
    n_bands = n_hashes // band_size
    bands = []
    for b in range(n_bands):
        parts = ", ".join(
            f"`mh{b * band_size + j}`" for j in range(band_size))
        bands.append(f"named_struct('band', {b}, 'band_key', "
                     f"md5(concat_ws('|', {parts})))")
    return signatures.select(
        F.col(id_col),
        F.expr("explode(array(" + ", ".join(bands) + "))").alias("b"),
    ).select(id_col, "b.band", "b.band_key")


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    max_bucket_size: int | None = 1000,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs (id_a < id_b),
    deduplicated across bands. One shuffle on band_key; the join is
    within-bucket only. ``signatures`` accepts a pre-built
    ``minhash_signatures``-shaped frame (id_col + mh0..mh{n-1}) so a
    caller that also needs other shingle-derived columns
    (duplicate_clusters' verify arrays) can feed both from one staged
    scan instead of re-tokenizing the corpus here.

    ``max_bucket_size`` is the hot-bucket skew guard for the 100 TB
    regime: a band bucket of B docs emits B*(B-1)/2 pairs, so one
    degenerate bucket (boilerplate text, empty docs) can dominate the
    whole job — 10^6 identical docs would emit 5*10^11 pairs through
    a single reducer. Buckets larger than the cap are dropped entirely
    (the standard "too-common band" rule: members that frequent are
    either exact dups — handled upstream by exact_dedup_groups — or
    not meaningfully similar). The cap is applied via a pre-join
    groupBy(count) on the same key as the join, so AQE coalesces the
    exchange. The default (1000, the conventional too-common cutoff:
    a capped bucket still admits ~500k pairs) is ON because the
    production path must be skew-safe without opt-in; pass None to
    explicitly run uncapped."""
    sig = signatures if signatures is not None else minhash_signatures(
        df, text_col, id_col, n_hashes, shingle_n)
    bands = lsh_bands(sig, id_col, n_hashes, band_size)
    # Materialize the band index ONCE (r17): left as lineage, the
    # split->shingle->salted-md5 minhash scan is evaluated FOUR times
    # — the cap count, the cap join-back, and both sides of the
    # band-bucket self-join all plan their own copy (the cap join and
    # the self-join go broadcast, whose build sides Spark does not
    # exchange-reuse against the probe sides; verified in the r17
    # formatted plan: 4 parquet scans of the corpus). The checkpointed
    # frame is (id, band, band_key) — a few small rows per doc, the
    # same bytes the band self-join already shuffles — and every
    # consumer reads it instead of re-hashing the corpus. Measured at
    # sf0.1: candidate pairs 0.76 s -> ~0.4 s, identical output.
    # Batch frames only: a streaming caller keeps pure lineage.
    if not df.isStreaming:
        bands = bands.localCheckpoint(eager=True)
    bands = _cap_buckets(bands, max_bucket_size)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def _cap_buckets(bands: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Too-common-band guard shared by every banded pair generator
    (MinHash-LSH and SimHash): drop buckets with more than
    ``max_bucket_size`` members before the self-join. The count runs
    on the same key as the join, so AQE coalesces the exchange;
    None = uncapped."""
    if max_bucket_size is None:
        return bands
    ok = (
        bands.groupBy("band", "band_key")
        .agg(F.count("*").alias("__bsz"))
        .filter(F.col("__bsz") <= max_bucket_size)
        .drop("__bsz")
    )
    return bands.join(ok, ["band", "band_key"])


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups: md5(text) -> group size + canonical
    (minimum) id. The keep-list is the canonical ids.

    NULL-text rows form ONE group under the NULL content_hash —
    md5(NULL) is NULL and groupBy treats NULL keys as equal, in both
    Spark and the DuckDB oracle (SQL GROUP BY semantics), so the two
    engines agree by construction. This differs deliberately from the
    near-dup operators (minhash/shingle paths), where NULL text is
    NOT a candidate: exact dedup callers filter or quarantine NULLs
    upstream (sources/corpus.py), and a caller who feeds them anyway
    gets the SQL-standard grouping rather than a silent phantom key."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min(F.col(id_col)).alias("keep_id"),
        )
    )


def incremental_lsh_dedup(
    new_df: DataFrame,
    history_bands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    max_bucket_size: int | None = 1000,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Corpus-refresh (snapshot-over-snapshot) near-dup dedup: band
    only the NEW batch and join it against the persisted band index —
    history-vs-history is NEVER re-paired. This is the 100 TB refresh
    shape: the state carried between snapshots is exactly what
    ``lsh_bands(minhash_signatures(...))`` emits ((id, band,
    band_key) — a few rows per doc), so the previous run's band
    write IS the index, and each refresh costs
    O(|new| + index equi-join), not O(|corpus|^2) re-clustering.

    A new doc is flagged as a duplicate iff it shares any band bucket
    with a history doc or with a lower-id doc of its own batch;
    ``dup_of`` is the minimum such colliding id (which may itself be
    flagged, in a new-batch chain — the same canonical-chain
    convention as min-id clustering). The too-common-band cap is
    applied to the COMBINED (history + new) bucket size, so a refresh
    decides exactly as a from-scratch batch run over the union would.

    ``history_bands`` must carry (id_col, band, band_key) built with
    the same (n_hashes, band_size, shingle_n). ``new_bands`` lets a
    caller that ALSO persists the new batch's bands (the streaming
    foreachBatch sink) pass them in so the minhash subtree is built
    once, not twice.

    Returns (id, dup_of, keep) for every row of ``new_df``.
    """
    if new_bands is None:
        new_bands = lsh_bands(
            minhash_signatures(new_df, text_col, id_col, n_hashes,
                               shingle_n),
            id_col, n_hashes, band_size)
    if not new_df.isStreaming and not new_bands.isStreaming:
        # the NEW batch's bands feed two consumers (the bucket-stats
        # aggregation below and the join probe side); materialize the
        # small batch-side index once instead of re-running its
        # minhash scan per consumer. The HISTORY side is deliberately
        # left as lineage: in production it is a persisted band index
        # (a parquet scan, cheap to read twice, expensive to pin in
        # memory at corpus scale)
        new_bands = new_bands.localCheckpoint(eager=True)
    all_bands = (
        history_bands.select(
            F.col(id_col), "band", "band_key",
            F.lit(False).alias("__new"))
        .unionByName(new_bands.select(
            F.col(id_col), "band", "band_key",
            F.lit(True).alias("__new")))
    )
    # r17 rewrite (guide §2.3 "aggregate before you shuffle"): dup_of
    # is the MIN colliding id, and min distributes over buckets — so
    # instead of the bucket SELF-JOIN (O(B^2) pair fan-out per bucket,
    # evaluated the history+new union on both sides AND a third time
    # for the cap count), aggregate each bucket ONCE to
    # (count, min history id, min new id) and equi-join only the NEW
    # batch's bands against that bounded stats table. Per new doc d in
    # a surviving bucket the min colliding id is
    # least(min_hist, min_new if min_new < d): any history member
    # qualifies regardless of id order, and if ANY lower-id new
    # neighbor exists the bucket's min new id is itself one (and the
    # smallest). The cap keeps its combined-(history+new) semantics as
    # the count in the SAME aggregation — one pass computes both.
    # Identical output to the self-join form (tests pin it); the
    # history pipeline is now evaluated once, not three times, and no
    # stage is ever quadratic in bucket size.
    bucket_stats = (
        all_bands.groupBy("band", "band_key")
        .agg(
            F.count("*").alias("__bsz"),
            F.min(F.when(~F.col("__new"), F.col(id_col))).alias("__mh"),
            F.min(F.when(F.col("__new"), F.col(id_col))).alias("__mn"),
        )
    )
    if max_bucket_size is not None:
        bucket_stats = bucket_stats.filter(
            F.col("__bsz") <= max_bucket_size)
    dup_of = (
        new_bands.select(F.col(id_col).alias("id"), "band", "band_key")
        .join(bucket_stats, ["band", "band_key"])
        .select(
            "id",
            F.least(
                F.col("__mh"),
                F.when(F.col("__mn") < F.col("id"), F.col("__mn")),
            ).alias("__cand"),
        )
        .groupBy("id")
        .agg(F.min("__cand").alias("dup_of"))
        .filter(F.col("dup_of").isNotNull())
    )
    return (
        new_df.select(F.col(id_col).alias("id"))
        .join(dup_of, "id", "left")
        .select("id", "dup_of", F.col("dup_of").isNull().alias("keep"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_doc_freq: int = 20,
    min_jaccard: float = 0.2,
    hash_shingles: bool = True,
    use_window: bool | str = "auto",
    hot_key_threshold: int = 20_000_000,
    hot_key_probe_fraction: float = 0.005,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard similarity.

    Hot-shingle guard: shingles present in more than ``max_doc_freq``
    documents are dropped — this is what keeps the pair fan-out
    bounded at scale (frequency-capped inverted index). Jaccard is
    computed on the capped shingle sets of both docs, so the metric is
    consistent.

    Physical strategy: explode distinct shingles once, cap by document
    frequency, then one window over the doc key counts each doc's
    surviving shingles so the Jaccard denominators travel WITH the
    rows; the surviving groups — each <= max_doc_freq ids, so bounded
    arrays — collect (id, size) structs and emit candidate pairs by
    array combination; one final pair aggregation computes the
    intersection counts. Nothing here is ever wider than the capped
    inverted index (no docs-sized broadcast, no shingle self-join on
    uncapped data).

    ``use_window`` picks the df-cap's physical shape (A/B'd on the
    organic sf1 corpus and an adversarial boilerplate fixture —
    tools/ab_window_vs_agg.py; both paths are value-identical,
    pinned by tests). The default "auto" keeps the window winner but
    probes the hottest key first (see _resolve_use_window) so an
    adversarial corpus with one extreme-frequency shingle falls back
    to the two-phase shape instead of silently strapping the hot
    partition's sort to a single task; explicit True/False pin the
    shape and skip the probe:

    - True (what "auto" picks on every non-pathological corpus —
      measured faster in every regime we can build):
      single-scan window count over the shingle key. One evaluation
      of the shingle subtree, one shuffle, one sort. Measured:
      3.6s at organic sf1 (10% boilerplate), 3.2s at 30%
      boilerplate — vs 6.5s/7.1s for the two-phase shuffle join and
      4.2s for its broadcast variant. Hot keys are cheaper than they
      look: a shingle's window partition holds at most one row per
      DOC (the explode is over array_distinct), the sort key is 8
      bytes, and a multi-million-row partition sorts in seconds
      (an adversarial spans-side probe with a ~1.6M-row hot key still
      ran the window at 11.0s vs 23.3s two-phase). The true failure
      mode needs a SINGLE key with hundreds of millions of rows —
      one straggler task sorting while the cluster idles.
    - False (the escape hatch for exactly that corpus): two-phase
      ``groupBy(sh).count()`` + semi-join back. Map-side partials
      absorb arbitrarily hot keys (one row per map task) and the join
      back is an equi-join AQE's skew-join splitting can split. Costs
      a second evaluation of the shingle subtree plus a full-volume
      join shuffle — the measured ~2x at every scale we could build,
      which is why it is not the default.
    """
    from pyspark.sql import Window as W

    def _sh(src):
        out = (
            src.select(
                F.col(id_col), F.split(F.col(text_col), " ").alias("__w"))
            .select(
                F.col(id_col),
                F.expr("explode(array_distinct(" +
                       shingles_from_words_sql("`__w`", shingle_n) +
                       "))").alias("sh"),
            )
        )
        if hash_shingles:
            # shrink the key that rides through the shuffles and the
            # inverted-index groupBy from a ~15-40 byte string to 8
            # bytes: measured 13% end-to-end at sf0.1 AND at 10x
            # (value-identical output on both). Set equality under
            # xxhash64 differs from string equality only on a 64-bit
            # collision — P ~ n_distinct^2 / 2^65, ~1e-8 at
            # one-million distinct shingles, and deterministic (the
            # same corpus always hashes the same way).
            # hash_shingles=False keeps exact string-set semantics.
            out = out.select(F.col(id_col), F.xxhash64("sh").alias("sh"))
        return out

    sh = _sh(df)
    if use_window == "auto":
        if df.isStreaming:
            # sample()+first() is illegal on a streaming plan: pin the
            # window shape (the measured default winner) instead of
            # letting the probe raise inside foreachBatch
            use_window = True
            AUTO_WINDOW_DECISIONS["ngram_jaccard_pairs"] = {
                "estimated_hottest": None, "use_window": True,
                "streaming": True}
        else:
            # probe over a DOCUMENT sample so the probe evaluates 0.5%
            # of the explode subtree, not all of it
            # (see _resolve_use_window)
            use_window = _resolve_use_window(
                _sh(df.sample(fraction=hot_key_probe_fraction, seed=7)),
                "sh", "ngram_jaccard_pairs",
                hot_key_threshold, hot_key_probe_fraction)
    if use_window:
        rare = (
            sh.withColumn("df_", F.count("*").over(W.partitionBy("sh")))
            .filter(F.col("df_") <= max_doc_freq)
            .drop("df_")
        )
    else:
        keep = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("df_"))
            .filter(F.col("df_") <= max_doc_freq)
            .select("sh")
        )
        rare = sh.join(keep, "sh")
    # Measured and REVERTED (r17): a restructure that deferred the
    # per-doc set sizes — grouped inverted index checkpointed after
    # the shingle-keyed agg, sizes recovered by exploding it and
    # attached to the pair table with two joins — removed this doc
    # window's full-index exchange+sort but read ~10% SLOWER at
    # sf1-organic (interleaved fresh-JVM A/Bs 4.20/4.23 -> 4.64/4.69 s;
    # sf0.1 a wash): materializing the 1.45M-row grouped table costs
    # more than the window exchange it saves, at every scale where
    # the index outgrows the page cache. The r16 window shape stands.
    # (A repartition-by-num before that checkpoint was also measured
    # and rejected: 1.7 -> 2.0 s — the pair fan-out is bounded at
    # max_doc_freq^2/2 per group, so AQE's byte-proxy coalescing
    # under-parallelizes by at most a bounded constant.)
    # post-cap shingle count per doc = the Jaccard set size
    sized = rare.withColumn(
        "n_sh", F.count("*").over(W.partitionBy(id_col))
    )
    grouped = sized.groupBy("sh").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("n_sh")))
        ).alias("ids")
    )
    pairs = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), y -> "
                "struct(x.id as id_a, y.id as id_b, "
                "x.n_sh as n_a, y.n_sh as n_b))))"
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b", "p.n_a", "p.n_b")
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("n_common"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def simhash_from_hashes(hashes: Column, n_bits: int = 32) -> Column:
    """SimHash from an ALREADY-MATERIALIZED array<long> of per-token
    hashes (top 32 md5 bits): per-bit majority vote. Each vote is a
    cheap bitwiseAND traversal; the md5s are computed once by the
    caller's projection, not once per bit."""
    if n_bits > 32:
        # the token hashes carry 32 independent bits; bit b votes on
        # hash bit b % 32, so n_bits > 32 would silently emit copies
        # of bits 0-31 (zero extra discrimination)
        raise ValueError("simhash supports at most 32 bits per token hash")

    def _vote(mask: int):
        # single-arg lambdas only: 2-arg merge lambda is (acc, x)
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(mask)) != 0, 1).otherwise(-1),
        )

    bits = []
    for b in range(n_bits):
        vote = _vote(1 << (b % 32))
        bits.append(F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("long"))
    out = bits[0]
    for bcol in bits[1:]:
        out = out + bcol
    return out


def token_hashes_expr(tokens: Column) -> Column:
    """Top 32 bits of md5(token) as array<long> — the simhash input."""
    return F.transform(
        tokens,
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 32,
    shingle_n: int = 1,
) -> DataFrame:
    """Per-document SimHash fingerprint (map-only). Staged projection:
    tokens → per-token hash array (md5 ONCE per token) → n_bits
    majority votes over the materialized long array."""
    toks = F.split(F.col(text_col), " ")
    if shingle_n > 1:
        staged = df.select(
            F.col(id_col), toks.alias("__w")
        ).select(
            F.col(id_col),
            F.expr(shingles_from_words_sql("`__w`", shingle_n))
            .alias("__t"),
        )
    else:
        staged = df.select(F.col(id_col), toks.alias("__t"))
    hashed = staged.select(
        F.col(id_col), token_hashes_expr(F.col("__t")).alias("__h"))
    return hashed.select(
        F.col(id_col),
        simhash_from_hashes(F.col("__h"), n_bits).alias("simhash"),
    )


def simhash_expr(text: Column, n_bits: int = 32, shingle_n: int = 1) -> Column:
    """SimHash over token (or shingle) md5s: per-bit majority vote.
    Expression-level API — inside DataFrame pipelines prefer simhash()
    which materializes the per-token hashes once instead of
    recomputing every md5 once per output bit."""
    sh = shingles_expr(text, shingle_n) if shingle_n > 1 else F.split(text, " ")
    return simhash_from_hashes(token_hashes_expr(sh), n_bits)


def simhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 32,
    n_bands: int = 4,
    max_hamming: int = 3,
    shingle_n: int = 1,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """SimHash near-duplicate pairs: band the fingerprint into
    ``n_bands`` contiguous bit slices, equi-join docs sharing any
    band slice, verify Hamming distance <= ``max_hamming``.

    By pigeonhole, any pair within Hamming distance <= n_bands - 1
    agrees on at least one full band, so with the default
    max_hamming = n_bands - 1 the banded join is EXACT (recall 1.0)
    while never comparing all pairs — the same bucket-join shape as
    MinHash-LSH (one shuffle on the band key), with the verify step a
    cheap bit_count(xor) instead of a shingle intersection.

    ``max_bucket_size``: same too-common-band guard as
    lsh_candidate_pairs (a degenerate slice bucket emits B^2/2
    candidate pairs); capped by default, None = explicit uncapped.
    """
    if max_hamming > n_bands - 1:
        raise ValueError(
            "banded SimHash is only exact for max_hamming <= n_bands-1; "
            f"got max_hamming={max_hamming}, n_bands={n_bands}")
    width = n_bits // n_bands
    mask = (1 << width) - 1
    fp = simhash(df, text_col, id_col, n_bits, shingle_n)
    bands = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit(mask)).alias("band_key"),
            )
            for b in range(n_bands)
        ])).alias("b"),
    ).select(id_col, "simhash", "b.band", "b.band_key")
    bands = _cap_buckets(bands, max_bucket_size)
    a = bands.alias("a")
    b = bands.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )


# -- duplicate clustering (connected components) --------------------------


def _symmetrize(edges: DataFrame) -> DataFrame:
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.unionByName(rev)


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node u links each STRICTLY LARGER
    neighbor v to m(u) = min(N(u) ∪ {u}).

    Join-based formulation — the textbook map-reduce version groups
    each node's full neighbor list, which on a hot node (a boilerplate
    near-dup cluster of 10^7 docs) is a single-reducer OOM. Computing
    m(u) with groupBy().min() and joining it back keeps every stage
    streaming: partial aggregation map-side, no materialized
    neighbor sets anywhere."""
    sym = _symmetrize(edges)
    mins = sym.groupBy("src").agg(F.min("dst").alias("__mn"))
    mins = mins.select(
        "src", F.least(F.col("src"), F.col("__mn")).alias("__m"))
    # no trailing .distinct(): the only consumer is _small_star, whose
    # leading orient-and-distinct dedups the same rows in ITS exchange
    # — a distinct here would be one extra full exchange per round for
    # rows the next operator dedups anyway (r17; the emitted multiset
    # is (v, m(u)) per symmetric edge, |E| rows, same order of volume
    # either way)
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient edges large→small; every node u links
    itself and each smaller neighbor to m(u) = min of its smaller
    neighborhood. Same join-based shape as _large_star."""
    d = (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    mins = d.groupBy("src").agg(F.min("dst").alias("__m"))
    self_links = mins.select("src", F.col("__m").alias("dst"))
    neigh_links = (
        d.join(mins, "src")
        .filter(F.col("dst") != F.col("__m"))
        .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
    )
    return self_links.unionByName(neigh_links).distinct()


def _cc_local_uf_kernel(it):
    """mapInArrow kernel for one local-union-find round: concatenates
    the partition's (src, dst) batches, computes each node's local
    connected-component minimum with a vectorized min-label /
    pointer-jumping loop (numpy, O(E log N) vector ops — no per-row
    Python), and emits ONE row (node, local_min) per DISTINCT node of
    the partition with node != local_min.

    Memory is O(distinct nodes in the partition) int64 labels plus the
    edge arrays themselves — no materialized neighbor lists. A
    degree-d hub therefore costs d co-located 16-byte rows for ONE
    round (its component collapses to a depth-1 star pointing at the
    minimum, after which the hub is a leaf), bounded further by the
    LSH bucket-size caps every dedup caller applies upstream."""
    import numpy as np
    import pyarrow as pa

    srcs, dsts = [], []
    for batch in it:
        if batch.num_rows:
            srcs.append(batch.column(0).to_numpy(zero_copy_only=False))
            dsts.append(batch.column(1).to_numpy(zero_copy_only=False))
    if not srcs:
        return
    src = np.concatenate(srcs)
    dst = np.concatenate(dsts)
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = ids.shape[0]
    a = inv[: src.shape[0]]
    b = inv[src.shape[0]:]
    # ids is sorted ascending, so the minimum label INDEX within a
    # component is the minimum node id — hook both endpoints (and
    # their current roots) to the edge minimum, then pointer-jump to
    # full compression; repeat until every edge's endpoints agree
    # (O(log n) outer iterations; verified against a reference
    # union-find on randomized graphs in test_pipeline)
    lab = np.arange(n, dtype=np.int64)
    while True:
        la, lb = lab[a], lab[b]
        m = np.minimum(la, lb)
        np.minimum.at(lab, a, m)
        np.minimum.at(lab, b, m)
        np.minimum.at(lab, la, m)
        np.minimum.at(lab, lb, m)
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        if np.array_equal(lab[a], lab[b]):
            break
    keep = lab != np.arange(n)
    nodes = ids[keep]
    roots = ids[lab[keep]]
    step = 1 << 20  # bound any one output Arrow batch
    for i in range(0, nodes.shape[0], step):
        yield pa.RecordBatch.from_arrays(
            [pa.array(nodes[i:i + step]), pa.array(roots[i:i + step])],
            names=["src", "dst"],
        )


def _cc_round_local_uf(edges: DataFrame) -> DataFrame:
    """One local-union-find round: co-locate every node's full
    (symmetrized) neighborhood by hashing on src — ONE exchange per
    round, vs the ~6 (2 aggregations + 2 join-side re-keys + 2
    distincts) an alternating large-star/small-star round pays — and
    collapse each partition's local components to min-stars in a
    single mapInArrow pass.

    Component preservation (the correctness invariant the decode
    relies on): all nodes of a partition-local component are relabeled
    to one of ITS OWN members (the minimum), and for any current edge
    (a, b) the partition owning a sees both endpoints, so a and b stay
    connected through that minimum — each round preserves the
    component structure exactly, labels only ever move DOWN. The
    fixed point is therefore reached monotonically, and
    connected_components verifies the decoded shape explicitly before
    trusting it (falling back to the proven alternating-star loop on
    the — still component-equivalent — current edge set otherwise)."""
    sym = _symmetrize(edges.select("src", "dst"))
    return sym.repartition(F.col("src")).mapInArrow(
        _cc_local_uf_kernel, "src long, dst long")


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
    driver_threshold: int = 1_000_000,
    stats: dict | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components of an undirected edge list — the
    transitive-closure step a dedup pipeline needs between "candidate
    pairs" and "keep one doc per duplicate group".

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014): converges in
    O(log^2 n) rounds on ANY graph shape — unlike plain min-label
    propagation, which needs O(diameter) rounds and dies on long
    chain-shaped dup clusters. Each round is two shuffles (groupBy
    min + equi-join on the same key); lineage is truncated per round
    with an eager checkpoint so the plan stays O(1) deep. With
    ``checkpoint_dir`` set, rounds checkpoint to RELIABLE storage
    (HDFS/S3 path on a real cluster — an executor loss replays from
    the last round, not the whole closure); the default None uses
    localCheckpoint, the right call in local mode where executor ==
    driver anyway (the driver loop itself is fine — each round's
    stats are a 1-row aggregate). Hub-node skew:
    the per-round groupBy-min is algebraic (map-side partials absorb
    hubs), and the equi-join back on the hub key is exactly the shape
    AQE's skew-join splitting handles (adaptive.skewJoin is on by
    default in this engine's sessions) — large-star itself then
    shrinks the hub by pointing its heavy neighbors at the minimum,
    which is WHY the alternating-star algorithm, unlike label
    propagation, does not accumulate hub pressure across rounds.

    ``driver_threshold``: an edge set that fits comfortably on the
    driver (default 1M edges ≈ 16 MB) is solved with an in-memory
    union-find instead — each distributed round costs ~6 small
    shuffles of fixed overhead, so for the common case (candidate
    pairs are a tiny fraction of the corpus even at 100 TB) the
    single collect is strictly cheaper. The distributed loop is the
    unbounded-scale path; results are identical (tested).

    ``stats``: pass a dict to observe execution — filled with
    ``path`` ("driver" | "distributed"), ``edges``, and ``rounds``
    (star rounds run; 0 on the driver path). This is how tests pin
    the O(log^2 n) round bound instead of trusting it.

    Returns (node, component): one row per distinct node of ``pairs``,
    component = the minimum node id of its connected component.
    """
    if stats is None:
        stats = {}
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(frame):
            # LAZY checkpoint (r17): the next action over the frame —
            # always the 1-row count/convergence probe in this loop —
            # materializes the checkpoint AND computes the probe in
            # ONE job, where eager=True spent a separate scheduled job
            # per round just materializing (2 jobs/round -> 1; the
            # probe is mandatory, so the fusion is free)
            return frame.checkpoint(eager=False)
    else:
        def _ckpt(frame):
            return frame.localCheckpoint(eager=False)
    e = _ckpt(
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    n_edges = e.count()
    stats["edges"] = n_edges
    if n_edges <= driver_threshold:
        stats["path"] = "driver"
        stats["rounds"] = 0
        parent: dict = {}

        def _find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        # one collect, not toLocalIterator: the threshold already
        # bounds the payload (~16 MB at 1M edges), and per-partition
        # iterator fetches cost one job round-trip each
        for r in e.collect():
            ra, rb = _find(r["src"]), _find(r["dst"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        out = [(x, _find(x)) for x in parent]
        schema = e.select(
            F.col("src").alias("node"), F.col("src").alias("component")
        ).schema
        spark = pairs.sparkSession
        if out:
            # ship the driver-local result through the Arrow
            # createDataFrame path (r17): the plain-list path
            # parallelizes PICKLED rows and every downstream job pays
            # a 32-task applySchemaToPythonRDD stage that spawns a
            # Python worker per task (measured 0.5 s per action at
            # sf0.1); Arrow batches are decoded JVM-side, no Python
            # workers in the timed plan. Values are int64 either way
            # — byte-identical output.
            import pandas as pd

            return spark.createDataFrame(
                pd.DataFrame(out, columns=["node", "component"]), schema)
        return spark.createDataFrame(out, schema)
    stats["path"] = "distributed"
    prev = None
    converged = False
    rounds = 0
    # Fast closure (r18): local-union-find rounds — one exchange + one
    # mapInArrow pass per round (the alternating-star round pays ~6
    # exchanges, each a separate AQE job). The per-round output can
    # carry cross-partition duplicates (a node is relabeled by every
    # partition that sees it), so the stability probe uses an exact
    # SUM of row hashes (multiset-safe — xor would cancel duplicate
    # pairs) next to the count; decimal(38,0) keeps the sum exact and
    # overflow-free to ~10^19 rows. Correctness does NOT rest on the
    # probe: it is only the stopping heuristic — the decoded shape is
    # verified explicitly below, and any failure falls back to the
    # proven alternating-star loop (every round preserves components
    # exactly, so the fallback input is equivalent). Gated on int64
    # node ids (every engine caller); other id types take the star
    # loop directly.
    from pyspark.sql.types import LongType

    fast = isinstance(e.schema["src"].dataType, LongType) and isinstance(
        e.schema["dst"].dataType, LongType)
    if fast:
        for _ in range(max_iter):
            e = _ckpt(_cc_round_local_uf(e))
            rounds += 1
            stats["rounds"] = rounds
            probe = e.agg(
                F.count("*").alias("n"),
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)"))
                .alias("chk"),
            ).first()
            cur = (probe["n"], probe["chk"])
            if cur == prev:
                converged = True
                break
            prev = cur
        if converged:
            # decode-validity verification — ONE aggregation action
            # over the converged ~component-count-sized edge set: (a)
            # every src has exactly ONE distinct label, (b) every
            # label is SMALLER than its src (so each star's center is
            # the minimum of its node set), (c) no label is itself
            # relabeled (depth 1 — no node is both a src and a dst).
            # With per-round component preservation these three
            # conditions make the decode exactly the min-label
            # components of the ORIGINAL graph; the probe above is
            # only a stopping heuristic, never load-bearing.
            u = e.select(
                F.col("src").alias("v"), F.col("dst").alias("lbl"),
                F.lit(1).alias("s"),
            ).unionAll(e.select(
                F.col("dst").alias("v"), F.lit(None).cast("long"),
                F.lit(0),
            ))
            shape = (
                u.groupBy("v")
                .agg(
                    F.count_distinct("lbl").alias("nd"),
                    F.max(F.when(F.col("v") <= F.col("lbl"), 1)
                          .otherwise(0)).alias("ge"),
                    F.max("s").alias("is_src"),
                    F.max(1 - F.col("s")).alias("is_dst"),
                )
                .agg(
                    F.max(F.when(F.col("is_src") == 1, F.col("nd")))
                    .alias("max_nd"),
                    F.min(F.when(F.col("is_src") == 1, F.col("nd")))
                    .alias("min_nd"),
                    F.max("ge").alias("ge"),
                    F.max(F.col("is_src") * F.col("is_dst"))
                    .alias("chain"),
                )
                .first()
            )
            stars_ok = (
                shape["max_nd"] == 1 and shape["min_nd"] == 1
                and shape["ge"] == 0 and shape["chain"] == 0
            )
            if not stars_ok:
                converged = False
                stats["star_fallback"] = True
    if not converged:
        # proven closure: alternating large-star / small-star from the
        # current (component-equivalent) edge set
        prev = None
        for _ in range(max_iter):
            e = _ckpt(_small_star(_large_star(e)))
            rounds += 1
            stats["rounds"] = rounds
            # convergence probe: the canonical edge set is stable once
            # the forest is a set of depth-1 stars. count +
            # order-independent hash fold is a 1-row action per round
            # (bit_xor is safe HERE: small_star output is distinct, so
            # xor can't cancel a repeat, and it can't overflow under
            # ANSI mode).
            probe = e.agg(
                F.count("*").alias("n"),
                F.bit_xor(F.xxhash64("src", "dst")).alias("chk"),
            ).first()
            cur = (probe["n"], probe["chk"])
            if cur == prev:
                converged = True
                break
            prev = cur
    if not converged:
        # the members/roots decode below assumes depth-1 stars; a
        # non-converged edge set would silently emit non-minimal or
        # duplicate labels. O(log^2 n) rounds means 25 iterations
        # covers any real graph, so exhaustion signals a bug or an
        # absurd max_iter — fail loudly rather than decode garbage.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "rounds (large-star/small-star needs O(log^2 n)); raise "
            "max_iter"
        )
    # converged: every edge is (member, root). Roots appear only as
    # dst — union them in as their own component. No inner distinct
    # on the roots side (r17): the trailing distinct dedups the whole
    # union in ONE exchange; a roots-side distinct would add a second
    # full exchange for rows the outer one dedups anyway (same
    # argument as _large_star's dropped trailing distinct).
    members = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    return members.unionByName(roots).distinct()


def clusters_from_pairs(
    entities: DataFrame, pairs: DataFrame, id_col: str,
    driver_threshold: int = 1_000_000,
    checkpoint_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Shared closure step for every dedup family (text LSH and
    embedding cosine both use THIS): candidate pairs -> connected
    components -> (id, cluster_id, is_canonical) over ALL entities,
    with unpaired entities as singleton clusters of themselves and
    the minimum id per cluster as the canonical keep-list.
    ``driver_threshold`` / ``checkpoint_dir`` / ``stats`` pass through
    to connected_components (0 forces the distributed star loop)."""
    if stats is None:
        stats = {}
    cc = connected_components(
        pairs, "id_a", "id_b", driver_threshold=driver_threshold,
        checkpoint_dir=checkpoint_dir, stats=stats)
    if stats.get("path") == "driver":
        # the component table is driver-local and bounded by
        # driver_threshold (~2M rows max): broadcast it so the keep
        # join is map-only over the entities instead of a sort-merge
        # join that shuffles + sorts BOTH sides (r17; the distributed
        # path keeps the shuffle join — its component table is
        # unbounded at scale)
        cc = F.broadcast(cc)
    ids = entities.select(F.col(id_col))
    joined = ids.join(cc, ids[id_col] == cc["node"], "left")
    cluster = F.coalesce(F.col("component"), F.col(id_col))
    return joined.select(
        F.col(id_col),
        cluster.alias("cluster_id"),
        (cluster == F.col(id_col)).alias("is_canonical"),
    )


def verify_pairs_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    hash_shingles: bool = True,
    shingle_arrays: DataFrame | None = None,
) -> DataFrame:
    """Exact-verify candidate pairs by shingle-set Jaccard: keep only
    pairs with |Sa ∩ Sb| / |Sa ∪ Sb| >= min_jaccard. The
    false-positive guard between LSH banding and transitive closure —
    without it a single band collision (probability ~J^band_size per
    band) merges two unrelated docs, and connected components
    amplifies any false edge into a merged cluster.

    Physical strategy: candidate pairs are a tiny fraction of the
    corpus, so two equi-joins pull each side's (bounded, per-doc)
    distinct-shingle array onto the pair row; the Jaccard is then a
    pure array expression. Shuffles on doc id only — never wider than
    the candidate set. With ``hash_shingles`` (default) the arrays
    that ride those joins hold 8-byte xxhash64 values instead of
    ~n-word strings — 21% end-to-end on the 250k-doc organic corpus,
    value-identical output (same trade and collision bound as
    ngram_jaccard_pairs; False keeps exact string-set semantics).

    ``shingle_arrays`` accepts a pre-materialized ``(id_col, __sh)``
    frame (per-doc DISTINCT shingle sets, hashed per
    ``hash_shingles``) so duplicate_clusters can feed banding AND
    verification from one staged text scan (r17).

    r17 note: a candidate-id broadcast semi-join prefilter on ``df``
    before the shingle computation (guide §3.2) was measured and
    REVERTED — at sf0.1 the extra materialize+count+broadcast
    round-trips cost ~0.7 s against ~0.4 s of saved shingle scans.
    Revisit only with evidence from a corpus where the candidate set
    is a much smaller fraction of the corpus than the banding caps
    already make it here."""
    if shingle_arrays is not None:
        sh = shingle_arrays
    else:
        # materialize the split FIRST (shingles_from_words docstring:
        # an inline split is re-evaluated per lambda reference in
        # codegen, ~4x measured on the jaccard pipeline)
        sh = (
            df.select(
                F.col(id_col), F.split(F.col(text_col), " ").alias("__w"))
            .select(
                F.col(id_col),
                F.expr("array_distinct(" +
                       shingles_from_words_sql("`__w`", shingle_n) +
                       ")").alias("__sh"),
            )
        )
        if hash_shingles:
            sh = sh.select(
                F.col(id_col),
                F.array_distinct(
                    F.transform(F.col("__sh"), lambda s: F.xxhash64(s))
                ).alias("__sh"),
            )
        if not df.isStreaming:
            # both pair-join sides consume the per-doc shingle arrays;
            # left as lineage the split->shingle->hash tokenization
            # runs once per side (the a/b join probes don't
            # exchange-reuse). One materialized pass replaces two text
            # scans; the checkpointed frame is (id, array<long>) — the
            # same compact per-doc integer-array shape dsir_features
            # materializes.
            sh = sh.localCheckpoint(eager=True)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sa"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size(F.array_union("__sa", "__sb"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(union > 0)
        .filter(inter / union >= F.lit(float(min_jaccard)))
        .select("id_a", "id_b")
    )


def duplicate_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    max_bucket_size: int | None = 1000,
    jaccard_threshold: float | None = 0.5,
    driver_threshold: int = 1_000_000,
    checkpoint_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """End-to-end near-duplicate clustering: MinHash → LSH bands →
    candidate pairs → [optional exact Jaccard verify] → connected
    components → (doc_id, cluster_id, is_canonical). Docs in no
    candidate pair are singleton clusters of themselves. The keep-list
    for dedup is ``is_canonical`` (the minimum doc id of each cluster
    — deterministic, join-free to apply: filter is_canonical).

    ``jaccard_threshold``: candidate pairs are exact-verified on
    shingle-set Jaccard before closure (mirrors
    bucketed_cosine_pairs' exact-verify step on the embedding side) —
    the guard against band collisions transitively merging unrelated
    docs and dropping non-duplicates from the keep-list. ON by
    default (0.5) as of round 6, with measured cause: on the organic
    sf1 corpus (50k docs, 10% sharing one boilerplate 10-gram) the
    raw-LSH closure produced a single 4,615-doc mega-cluster —
    deduping on is_canonical would have deleted ~9% of the corpus,
    almost all non-duplicates — while the verified closure's largest
    cluster is 10 (the genuinely-planted cross-shard viral docs).
    None opts out to raw-LSH semantics (closure == union-find over
    the banded candidate pairs).

    ``max_bucket_size`` defaults to the finite too-common-band cap
    (1000) — the production-shaped entry point must be skew-safe
    without opt-in; None runs uncapped. ``checkpoint_dir`` / ``stats``
    pass through to connected_components (reliable lineage truncation
    on a real cluster / round-count observability).

    Reference parity note: the reference engine has no dedup surface;
    this is the brief-driven LLM-pipeline operator family
    (SURVEY.md §2 extension)."""
    if jaccard_threshold is not None and not df.isStreaming:
        # ONE staged text scan feeds BOTH the banding (salted-md5
        # minhash lanes) and the exact-verify step (distinct hashed
        # shingle sets) — they share the split->shingles subtree, and
        # separately each would scan the corpus once (r17; verified
        # in plans/r17: the combined checkpoint removes one full
        # corpus tokenization from this operator at every scale).
        # __vsh == array_distinct(xxhash64(shingles)): distinct after
        # hashing yields the same SET as verify's
        # distinct-then-hash-then-distinct, and the Jaccard uses only
        # set sizes (intersect/union), so output is identical.
        staged = staged_minhash_arrays(
            df.filter(F.col(text_col).isNotNull()),
            text_col, shingle_n, n_hashes, [F.col(id_col)],
            extra_from_shingles={
                "__vsh": lambda sh: F.array_distinct(
                    F.transform(sh, lambda s: F.xxhash64(s)))
            },
        )
        # reduce BEFORE materializing: the staged __h{k} arrays hold a
        # 32-char md5 string per shingle per salt (~10 KB/doc) —
        # checkpointing them costs more than the scan they save.
        # The lane minima (8 short strings) + the distinct hashed
        # shingle set (~8 bytes each) are all downstream needs.
        staged = staged.select(
            F.col(id_col), *minhash_lane_cols(n_hashes), F.col("__vsh")
        ).localCheckpoint(eager=True)
        sig = staged.drop("__vsh")
        pairs = lsh_candidate_pairs(
            df, text_col, id_col, n_hashes, band_size, shingle_n,
            max_bucket_size=max_bucket_size, signatures=sig)
        pairs = verify_pairs_jaccard(
            df, pairs, text_col, id_col, shingle_n, jaccard_threshold,
            shingle_arrays=staged.select(
                F.col(id_col), F.col("__vsh").alias("__sh")))
        return clusters_from_pairs(
            df, pairs, id_col, driver_threshold=driver_threshold,
            checkpoint_dir=checkpoint_dir, stats=stats)
    pairs = lsh_candidate_pairs(
        df, text_col, id_col, n_hashes, band_size, shingle_n,
        max_bucket_size=max_bucket_size)
    if jaccard_threshold is not None:
        pairs = verify_pairs_jaccard(
            df, pairs, text_col, id_col, shingle_n, jaccard_threshold)
    return clusters_from_pairs(
        df, pairs, id_col, driver_threshold=driver_threshold,
        checkpoint_dir=checkpoint_dir, stats=stats)


# -- exact substring-duplicate spans (training-data dedup) ----------------

def positioned_ngrams(words: Column, n: int) -> Column:
    """Array of (pos, ngram) structs over a materialized words array —
    the positional sibling of shingles_from_words (0-based word
    offsets), shared by span detection and decontamination."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - F.lit(n), F.lit(0))),
        lambda i: F.struct(
            i.alias("pos"),
            F.concat_ws(" ", F.slice(words, i + 1, n)).alias("ng"),
        ),
    )


def duplicate_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    min_count: int = 2,
    hash_ngrams: bool = True,
    use_window: bool | str = "auto",
    hot_key_threshold: int = 20_000_000,
    hot_key_probe_fraction: float = 0.005,
) -> DataFrame:
    """Exact substring-duplicate span detection — the preprocessing
    behind exact-substring training-data dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better": cut
    every span whose n-gram occurs elsewhere in the corpus). Returns
    one row per (doc, word position) whose n-gram's CORPUS-WIDE
    occurrence count reaches ``min_count``: (doc_id, start_word,
    end_word, n_occurrences). Downstream cutters merge overlapping
    spans per doc (merge_word_spans) and splice the text.

    Physical strategy: explode positioned n-grams; with
    ``hash_ngrams`` the key that rides the shuffle is an 8-byte
    xxhash64 instead of an ~n-word string (same trade as
    ngram_jaccard_pairs; collisions ~2^-64, deterministic).

    ``use_window`` picks the occurrence count's physical shape (same
    trade as ngram_jaccard_pairs — see its docstring for the full A/B):
    True (what "auto" picks on normal corpora) = single-scan window
    count over the n-gram key —
    measured 1.9s at organic sf1 vs 4.4s two-phase, and still 2x
    faster (11.0s vs 23.3s) on an adversarial fixture where 30% of
    600k docs share a periodic boilerplate block (~1.6M rows on the
    hottest key). Unlike the jaccard side, positioned n-grams are NOT
    per-doc-distinct, so a pathological corpus (hundreds of millions
    of occurrences of ONE n-gram) can make the window's hot partition
    a straggler; False = two-phase ``groupBy(ng).count()`` +
    equi-join back for exactly that corpus, where map-side partials
    absorb the hot key, AQE can split the join, and the count side is
    PRE-FILTERED to n-grams reaching ``min_count``. The default
    "auto" probes the hottest n-gram first (_resolve_use_window) and
    picks the two-phase shape automatically when the estimate crosses
    ``hot_key_threshold`` — the pathological corpus no longer needs a
    caller who knows to flip the flag."""
    from pyspark.sql import Window as W

    def _ng(src):
        # the size >= n gate lives INSIDE the generator (explode drops
        # the NULL array a failing when() yields), not as a .filter on
        # the __w projection: predicate pushdown would substitute the
        # split into the predicate and run it twice per row (the
        # alias-pushdown class documented in SCALING.md r16 — measured
        # 16% off this operator's wall-clock at sf0.1)
        out = (
            src.select(
                F.col(id_col), F.split(F.col(text_col), " ").alias("__w"))
            .select(
                F.col(id_col),
                F.explode(
                    F.when(F.size("__w") >= n,
                           positioned_ngrams(F.col("__w"), n))).alias("g"),
            )
            .select(F.col(id_col), F.col("g.pos").alias("pos"),
                    F.col("g.ng").alias("ng"))
        )
        if hash_ngrams:
            out = out.select(id_col, "pos", F.xxhash64("ng").alias("ng"))
        return out

    g = _ng(df)
    if use_window == "auto":
        if df.isStreaming:
            # sample()+first() is illegal on a streaming plan: pin the
            # window shape (the measured default winner) instead of
            # letting the probe raise inside foreachBatch
            use_window = True
            AUTO_WINDOW_DECISIONS["duplicate_ngram_spans"] = {
                "estimated_hottest": None, "use_window": True,
                "streaming": True}
        else:
            # probe over a DOCUMENT sample so the probe evaluates 0.5%
            # of the explode subtree, not all of it
            # (see _resolve_use_window)
            use_window = _resolve_use_window(
                _ng(df.sample(fraction=hot_key_probe_fraction, seed=7)),
                "ng", "duplicate_ngram_spans",
                hot_key_threshold, hot_key_probe_fraction)
    if use_window:
        hot = (
            g.withColumn("n_occurrences",
                         F.count("*").over(W.partitionBy("ng")))
            .filter(F.col("n_occurrences") >= min_count)
        )
    else:
        counts = (
            g.groupBy("ng")
            .agg(F.count("*").alias("n_occurrences"))
            .filter(F.col("n_occurrences") >= F.lit(min_count))
        )
        hot = g.join(counts, "ng")
    return hot.select(
        F.col(id_col),
        F.col("pos").alias("start_word"),
        (F.col("pos") + n).alias("end_word"),
        F.col("n_occurrences"),
    )


def merge_word_spans(
    spans: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Merge overlapping/adjacent [start_word, end_word) spans per doc
    (gaps-and-islands with a running-max window) — turns
    duplicate_ngram_spans' per-position hits into the minimal cut
    list. One shuffle on the doc key; window sorts spill."""
    from pyspark.sql import Window as W

    w = W.partitionBy(id_col).orderBy("start_word")
    with_prev = spans.withColumn(
        "__prev_max_end",
        F.max("end_word").over(
            w.rowsBetween(W.unboundedPreceding, -1)),
    )
    islands = with_prev.withColumn(
        "__island",
        F.sum(
            F.when(
                F.col("__prev_max_end").isNull()
                | (F.col("start_word") > F.col("__prev_max_end")), 1
            ).otherwise(0)
        ).over(w),
    )
    return (
        islands.groupBy(id_col, "__island")
        .agg(
            F.min("start_word").alias("start_word"),
            F.max("end_word").alias("end_word"),
        )
        .drop("__island")
    )


def cut_word_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "text_cut",
) -> DataFrame:
    """Splice duplicated spans OUT of the text — the final step of
    exact-substring dedup (detect → merge_word_spans → cut). Word
    positions inside any [start_word, end_word) span are dropped and
    the remainder re-joined with single spaces.

    Physical strategy: per-doc span lists are tiny (bounded by the
    merged cut list), so they aggregate to one array per doc and join
    back on the doc key — one shuffle each side; the splice itself is
    a pure array expression (zip words with positions, filter by span
    membership, re-concat), fully inside codegen. Docs with no spans
    pass through unchanged (left join + coalesce)."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("start_word").alias("s"),
                     F.col("end_word").alias("e"))).alias("__spans"))
    joined = df.join(per_doc, id_col, "left")
    words = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(0), F.size(words) - 1)
    kept = F.filter(
        idx,
        lambda i: ~F.exists(
            F.col("__spans"),
            lambda sp: (i >= sp["s"]) & (i < sp["e"])),
    )
    cut = F.concat_ws(
        " ", F.transform(kept, lambda i: F.element_at(words, i + 1)))
    return joined.select(
        *df.columns,
        F.when(F.col("__spans").isNull(), F.col(text_col))
        .otherwise(cut).alias(out_col),
    )


def ngram_contamination(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_text_col: str = "text",
    n: int = 8,
    min_shared: int = 1,
    hash_ngrams: bool = True,
) -> DataFrame:
    """Benchmark decontamination: per document, the number of DISTINCT
    word n-grams shared with ANY reference (eval-set) document —
    the standard n-gram-overlap contamination test. Returns
    (doc_id, n_shared, contaminated).

    Physical strategy: the reference's distinct n-gram set is usually
    tiny relative to the corpus (eval sets are small) — distinct-
    reduce it, equi-join the corpus's distinct per-doc n-grams against
    it (broadcastable when small; AQE decides), count per doc. With
    ``hash_ngrams`` both sides join on an 8-byte key."""
    def side(frame, col, keep):
        # generator-side size gate, not a .filter — see _ng in
        # duplicate_ngram_spans / SCALING.md r16 alias-pushdown note
        out = (
            frame.select(*keep, F.split(F.col(col), " ").alias("__w"))
            .select(
                *keep,
                F.explode(F.when(F.size("__w") >= n, F.array_distinct(
                    F.transform(
                        positioned_ngrams(F.col("__w"), n),
                        lambda s: s["ng"])
                ))).alias("ng"),
            )
        )
        if hash_ngrams:
            out = out.select(*keep, F.xxhash64("ng").alias("ng"))
        return out

    corpus = side(df, text_col, [F.col(id_col)]).distinct()
    ref = side(reference, ref_text_col, []).distinct()
    shared = corpus.join(ref, "ng").groupBy(id_col).agg(
        F.count("*").alias("n_shared"))
    ids = df.select(F.col(id_col)).distinct()
    return (
        ids.join(shared, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) >= min_shared
             ).alias("contaminated"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    keep_first: bool = True,
) -> DataFrame:
    """Paragraph-granularity exact dedup (the Dolma/CCNet paragraph
    step): a paragraph repeated ANYWHERE in the corpus survives only
    at its first occurrence (minimum (doc, position)); every doc is
    reassembled from its surviving paragraphs in original order.
    Catches boilerplate blocks (headers, navigation, disclaimers)
    that document-level dedup can never remove because the documents
    hosting them differ.

    Physical strategy: split + posexplode (map-only), ONE groupBy on
    the paragraph md5 to elect the keeper (algebraic min of the
    packed (doc, pos) key — map-side partials absorb a corpus-hot
    boilerplate paragraph), broadcast-free equi-join back on the hash,
    and one per-doc sort_array-ed collect_list to reassemble (bounded
    by paragraphs-per-doc). With ``keep_first`` False, repeated
    paragraphs are dropped from EVERY doc (pure boilerplate removal).

    Returns (id_col, text [reassembled], n_paragraphs, n_kept)."""
    parts = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep))).alias(
            "__pos", "__para"),
    ).withColumn("__h", F.xxhash64("__para"))
    # elect the keeper per paragraph hash: min of the packed (doc,
    # pos) key — one algebraic agg, no window over the hot hash
    first = (
        parts.groupBy("__h")
        .agg(F.min(F.struct(F.col(id_col).alias("d"),
                            F.col("__pos").alias("p"))).alias("__k"),
             F.count("*").alias("__occ"))
    )
    joined = parts.join(first, "__h")
    if keep_first:
        keeper = (
            (F.col("__k.d") == F.col(id_col))
            & (F.col("__k.p") == F.col("__pos")))
    else:
        keeper = F.col("__occ") == 1
    # ONE per-doc aggregation computes the paragraph count AND the
    # reassembly (r17): the previous shape aggregated `joined` twice
    # (total count on one branch, kept-only reassembly on the other)
    # and joined the results — which re-evaluated the whole
    # split/posexplode/hash/keeper-join subtree per branch, doubling
    # the corpus scans. collect_list skips the NULLs the keeper
    # predicate leaves, so the kept-only filter folds into the
    # aggregation for free; identical output (oracle-pinned).
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("*").alias("n_paragraphs"),
            F.concat_ws(sep, F.transform(
                F.array_sort(F.collect_list(
                    F.when(keeper, F.struct("__pos", "__para")))),
                lambda s: s["__para"])).alias("text"),
            F.sum(F.when(keeper, 1).otherwise(0)).alias("__nk"),
        )
        .select(
            id_col,
            "text",
            "n_paragraphs",
            F.col("__nk").cast("int").alias("n_kept"),
        )
    )
