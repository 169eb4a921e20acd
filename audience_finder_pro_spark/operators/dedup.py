"""Deduplication tier (SURVEY §2.4 A9; LLM-data-pipeline north star).

Four strategies, all shuffle-disciplined for the 100 TB design point:

- exact_dedup: hash-groupBy on a normalized-text fingerprint. One
  shuffle on the 16-byte hash (not the text!), map-side partial
  aggregation for the min-doc-id representative pick.
- ngram_jaccard_pairs: exact Jaccard over word-shingle sets via an
  inverted-index self-join. Skew control: document-frequency cap drops
  stopword-like shingles before the join (a hot shingle is exactly a
  skewed join key at scale).
- minhash_lsh_pairs: MinHash signatures (pure xxhash64 expressions — no
  Python, no ml.Vectors) banded into LSH buckets; candidate pairs from
  bucket equi-join, then exact-Jaccard verification of candidates only.
  This is the scale path: cost ~ O(candidates), not O(n²).
- simhash_buckets: 64-bit SimHash per doc from per-token hash bit votes
  (explode → single groupBy with 64 codegen'd bit-sum expressions),
  bucketed on the top-16-bit prefix for near-dup candidate generation.

Only exact_dedup is DuckDB-oracle-checkable (md5 matches across
engines); the approximate ops are verified by planted-pair recall in
tests (SURVEY §7.4 hard part 3).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from audience_finder_pro_spark.functions.text import (
    norm_text_hash,
    shingle_stream,
    tokens,
)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One representative row (min id) per normalized-text fingerprint.

    Deterministic representative choice (min id) instead of Spark's
    arbitrary-row dropDuplicates — required for oracle hash-match.

    Two-pass shape, deliberately: groupBy(hash).min(id) shuffles only the
    16-byte hash + id, then a left-semi join on (hash, id) recovers the
    representative rows. A one-pass row_number window was tried (round 2)
    and REVERTED on measurement: the window carries FULL rows (text
    payload) through a total sort per hash partition, and under executor
    memory pressure (other operators' caches resident — the realistic
    cluster condition) that sort spills: 40.7s vs 5.1s at the 50× scale
    stress, despite near-parity on an idle executor (2.3-6.2s both).
    Hash semi-joins degrade gracefully where sorts fall off a cliff, and
    the second columnar scan is cheap next to a full-payload shuffle.
    """
    h = df.withColumn("text_hash", norm_text_hash(text_col))
    reps = h.groupBy("text_hash").agg(F.min(id_col).alias(id_col))
    return h.join(reps, ["text_hash", id_col], "left_semi")


def _shingle_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    df_cap: int | None,
    df_cap_frac: float | None = None,
) -> DataFrame:
    """Inverted index: (shingle, id), stopword-like shingles optionally dropped.

    ``df_cap`` is an absolute document-frequency ceiling; ``df_cap_frac``
    a relative one (fraction of the corpus, floored at ``df_cap`` or 5 so
    tiny fixtures don't prune their own near-dup signal). Relative is the
    100 TB setting: "drop any shingle present in >0.1% of docs" stays
    meaningful at any corpus size, a fixed count does not.
    """
    # Exchange discipline (each step annotated with what it costs):
    # - dedup: groupBy(id).collect_set(shingle) then explode — ONE
    #   exchange whose wire carries map-side-combined per-doc SETS, not
    #   raw shingle occurrences, and whose output is hash(id)-clustered
    #   (the zip-sliced gram stream arrives with no useful partitioning,
    #   so a plain .distinct() would pay an (id, shingle) exchange and
    #   the n_sh window below a SECOND one on id).
    # - df-cap count: groupBy(shingle) — map-side partial agg, so the
    #   shuffle carries (shingle, partial_count), not the index.
    # - prune: broadcast anti-join — preserves the id clustering.
    # - n_sh: per-doc PRUNED set size via a count window — exchange-free
    #   on the id-clustered stream. Carrying it on every index row
    #   lets the pair join below compute Jaccard directly, deleting the
    #   separate sizes branch (a groupBy + two joins + two broadcast
    #   builds) that previously re-consumed the index.
    # - repartition(shingle): the ONE full-index exchange; the pair
    #   self-join's both sides then reuse it (localCheckpoint preserves
    #   outputPartitioning, so the reuse survives materialization).
    idx = (
        shingle_stream(df, id_col, text_col, n)
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("_sh"))
        .select(id_col, F.explode("_sh").alias("shingle"))
    )
    if df_cap is not None or df_cap_frac is not None:
        freq = idx.groupBy("shingle").agg(F.count("*").alias("_df"))
        if df_cap_frac is not None:
            n_docs = df.agg(F.count("*").alias("_n_docs"))
            cap = F.greatest(
                F.lit(float(df_cap if df_cap is not None else 5)),
                F.col("_n_docs") * F.lit(df_cap_frac),
            )
            hot = freq.crossJoin(F.broadcast(n_docs)).filter(F.col("_df") > cap).select("shingle")
        else:
            hot = freq.filter(F.col("_df") > df_cap).select("shingle")
        idx = idx.join(F.broadcast(hot), "shingle", "left_anti")
    w = Window.partitionBy(id_col)
    return idx.withColumn("n_sh", F.count("*").over(w)).repartition("shingle")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
    df_cap_frac: float | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with shingle-set Jaccard ≥ threshold.

    Inverted-index join: pairs only materialize for docs sharing ≥1
    shingle. ``df_cap``/``df_cap_frac`` prune ubiquitous shingles — the
    skew/blowup control at scale (a hot shingle is a skewed join key
    whose bucket grows quadratically).

    When a cap is set, Jaccard is computed over the PRUNED shingle
    universe on both sides of the fraction: set sizes come from the same
    pruned index that feeds the pair join, so numerator and denominator
    are consistent (Jaccard over non-ubiquitous shingles — a well-defined
    similarity, not an underestimate of the uncapped one).
    """
    # materialize the pruned index ONCE: it feeds both self-join sides,
    # and under AQE the shingle pipeline would re-execute per branch.
    # Storage is bounded by the index itself — the same rows the join
    # shuffles anyway (measured at sf0.1: 3.3s -> 2.3s warm); blocks are
    # freed when the result is dropped or via caching.free_checkpoint.
    # Each row carries its doc's pruned set size (n_sh), so the pair join
    # computes Jaccard in one groupBy — no sizes re-join.
    idx = _shingle_index(df, id_col, text_col, n, df_cap, df_cap_frac).localCheckpoint(
        eager=True
    )
    a = idx.alias("a")
    b = idx.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(
            F.count("*").alias("n_common"),
            F.first("a.n_sh").alias("n_a"),
            F.first("b.n_sh").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """(id, m0..m{num_hashes-1}) MinHash signature per doc.

    Scale-shaped: the tokenize→shingle pipeline runs ONCE per doc
    (explode), each shingle is xxhash64'd ONCE, and the num_hashes
    permutations are cheap fixed-width rehashes ``xxhash64(seed_i, h)``
    folded by flat min-aggregates in a single groupBy — map-side partial
    mins make the shuffle carry one 8·num_hashes-byte row per doc per
    partition. (The naive per-doc form — num_hashes nested lambda
    transforms over the shingle array — re-runs the regex tokenizer
    num_hashes× and overflows whole-stage codegen into interpreted
    evaluation; at sf0.01 that was ~100s vs ~2s for this shape.)

    Docs with fewer than ``n`` tokens have no shingles → no signature row
    (same exclusion the array form expressed with size(sig) > 0).
    """
    hashed = shingle_stream(df, id_col, text_col, n).select(
        id_col, F.xxhash64("shingle").alias("h")
    )
    return _minhash(hashed, id_col, num_hashes)


def _minhash(hashed: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """(id, m0..m{num_hashes-1}) from an (id, h) stream of xxhash64
    shingle hashes, one or more rows per shingle."""
    # duplicate shingle occurrences don't change a min-fold — no distinct
    # pass. The num_hashes rehashes are PROJECTED before the groupBy rather
    # than inlined in the min() aggregates: same shuffle either way (partial
    # mins run map-side first), but the simple-column agg codegen measured
    # ~30% faster than evaluating xxhash64 inside each aggregate buffer
    # update (0.49s vs 0.70s at sf0.1).
    proj = hashed.select(
        id_col,
        *[F.xxhash64(F.lit(i), F.col("h")).alias(f"_h{i}") for i in range(num_hashes)],
    )
    return proj.groupBy(id_col).agg(
        *[F.min(f"_h{i}").alias(f"m{i}") for i in range(num_hashes)]
    )


def _banded(sig: DataFrame, id_col: str, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, bucket) LSH banding of a MinHash signature frame — one
    xxhash64 per band over its row slice, exploded from a single array
    projection (codegen; no per-band scans)."""
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.lit(b), *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash banding, verified by exact Jaccard.

    bands=16 × rows=4 over 64 hashes → S-curve threshold ≈ (1/16)^(1/4) ≈ 0.5
    Jaccard. All hashing is xxhash64 expressions inside codegen; the only
    shuffles are the signature groupBy, the band-bucket self-join, and the
    final verification join.
    """
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes)

    # shingle sets are built only for docs that appear in a candidate pair
    # (≪ corpus), semi-joined first. Sets are collected from the codegen
    # shingle_stream (zip-sliced) as xxhash64 longs, not via shingles() HOF
    # arrays: the lambda transform evaluates interpreted per shingle
    # (~20µs), and long-array intersection beats string-array intersection
    # downstream. A 64-bit hash collision merging two distinct shingles is
    # ~|sh|²/2⁶⁴ — negligible against the candidate set's own approximation.
    def candidate_sets(cand_ids: DataFrame) -> DataFrame:
        return (
            shingle_stream(df.join(cand_ids, id_col, "left_semi"), id_col, text_col, n)
            .groupBy(id_col)
            .agg(F.collect_set(F.xxhash64("shingle")).alias("sh"))
            .localCheckpoint(eager=True)
        )

    return _lsh_pairs(sig, id_col, bands, num_hashes // bands, threshold, candidate_sets)


def _lsh_pairs(
    sig: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    threshold: float,
    candidate_sets: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """(id_a, id_b, jaccard) — LSH banding of a signature frame, bucket
    candidates, exact-Jaccard verification: the back half shared by
    ``minhash_lsh_pairs`` and ``corpus_dedup``.

    ``candidate_sets(cand_ids)`` returns (id, sh) — the xxhash64 shingle
    set of every doc in the one-column ``cand_ids`` frame. It is read by
    both verification join branches, so it must be cheap to re-read (a
    checkpoint or a projection of one).
    """
    banded = _banded(sig, id_col, bands, rows_per_band)

    # pair generation WITHOUT a self-join: a self-join would execute the whole
    # signature pipeline twice (no exchange reuse across join branches under
    # AQE) — instead collect bucket membership once and expand id pairs.
    # Bucket lists are small by construction (a giant bucket means the band
    # hash degenerated); the |bucket|² expansion is the LSH candidate set
    # itself, so it's the algorithm's output size, not overhead.
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # materialize: the candidate set is tiny (LSH's whole point) but its
    # lineage contains the full signature pipeline — the two verification
    # join branches below would otherwise re-execute that pipeline per branch
    cand = (
        buckets.select(F.posexplode("ids").alias("i", "id_a"), "ids")
        .select("id_a", F.explode(F.slice("ids", F.col("i") + 2, F.size("ids"))).alias("id_b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cand_ids = cand.select(F.explode(F.array("id_a", "id_b")).alias(id_col)).distinct()
    shdf = candidate_sets(cand_ids)
    verified = (
        cand.join(shdf.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(shdf.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # cand (and any set checkpoint) are eager localCheckpoints, not
    # persist()s: checkpoint blocks are released by the ContextCleaner when
    # the caller drops the result (and can be freed deterministically via
    # caching.free_checkpoint), whereas CacheManager entries leak forever
    # unless every caller knows to unpersist an ad-hoc handle — a contract
    # that doesn't survive DataFrame transformations.
    return verified.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def simhash_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_bits: int = 16,
) -> DataFrame:
    """64-bit SimHash per doc + a bucket key (top prefix_bits) for blocking.

    Bit votes: explode tokens once, xxhash64 each, then a single groupBy
    computing all 64 bit-majorities as codegen'd sums — no Python.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    hashed = tok.withColumn("h", F.xxhash64("tok"))
    bit_votes = [
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"b{i}") for i in range(64)
    ]
    voted = hashed.groupBy(id_col).agg(F.count("*").alias("n_tok"), *bit_votes)
    simhash = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") * 2 > F.col("n_tok"), F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        simhash = term if simhash is None else simhash + term
    return voted.select(
        F.col(id_col),
        simhash.alias("simhash"),
        F.shiftrightunsigned(simhash, 64 - prefix_bits).alias("bucket"),
    )


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    max_hamming: int | None = None,
) -> DataFrame:
    """Near-dup candidates by banded SimHash: split the 64-bit signature
    into ``bands`` equal slices; two docs are candidates when ANY slice
    matches exactly (pigeonhole: ≤ bands-1 differing bits always match).

    This is the hamming-space analogue of MinHash banding — single-prefix
    blocking misses any pair whose differing bits land in the prefix.
    Optionally post-filters candidates to ``max_hamming`` true distance.
    """
    sh = simhash_buckets(df, id_col, text_col).select(id_col, "simhash")
    band_bits = 64 // bands
    mask = (1 << band_bits) - 1
    banded = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("slice"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bs"),
    ).select(id_col, "simhash", "bs.band", "bs.slice")
    a = banded.alias("a")
    b_ = banded.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.slice") == F.col("b.slice"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
    )
    if max_hamming is not None:
        cand = cand.filter(F.col("hamming") <= max_hamming)
    return cand.select("id_a", "id_b", "hamming")


def incremental_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Dedupe an INCOMING batch against an EXISTING corpus — the
    recurring-ingest path: snapshot N is already deduped, the daily crawl
    must be filtered against it without ever re-pairing old×old.

    Every incoming doc gets a verdict:

    - ``dup_exact``  — normalized text hash already in ``existing``
      (matched_id = the existing corpus's min-id holder of that hash);
    - ``dup_near``   — verified Jaccard ≥ ``threshold`` against some
      existing doc via MinHash-LSH banding (matched_id = the best match:
      max Jaccard, ties to the smallest existing id);
    - ``kept``       — neither.

    Returns (id_col, status, matched_id, jaccard); ``kept`` rows carry
    NULL matched_id/jaccard. Within-batch (new×new) duplicates are NOT
    judged here by design — run exact_dedup/minhash_lsh_pairs on the
    kept remnant, or equivalently fold the remnant into the corpus and
    let the next increment see it.

    Scale shape: the exact pass shuffles (16-byte hash, id) only — the
    existing side is pre-aggregated to one (hash, min id) row per
    fingerprint, so the join key is unique and skew-free. The near pass
    bands BOTH sides' signatures and equi-joins new buckets to old
    buckets on (band, bucket): candidates are cross-side by
    construction (the incremental win — no old×old expansion, no
    self-join double-execution), and exact-Jaccard verification builds
    shingle sets ONLY for docs appearing in a candidate pair (semi-join
    on each side, ≪ both corpora). Same banding, same S-curve, same
    checkpoint discipline as ``minhash_lsh_pairs``; exact-dup survivors
    are excluded BEFORE signatures so the near pass never re-scores
    them.
    """
    rows_per_band = num_hashes // bands

    ex_fp = (
        existing.select(norm_text_hash(text_col).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("_ex_id"))
    )
    inc = incoming.withColumn("text_hash", norm_text_hash(text_col))
    # flagged is the fan-out point of the operator: exact_dups reads it
    # once, survivors three times (new-side signatures, new-side shingle
    # sets, the verdict merge) — each consumer re-executes the incoming
    # scan + the fingerprint aggregate + this join. Materializing it was
    # measured and REJECTED at sf0.1 (r14 A/B, fresh-session best/median,
    # baseline 4.02/4.41s): eager localCheckpoint 4.99/6.52s — the extra
    # blocking pass costs more than re-running a sub-MB scan pipeline
    # (the r13 state_catalog ledger's lesson); lazy localCheckpoint
    # 8.53/15.87s — the RDD-boundary form loses codegen fusion on this
    # join and was catastrophically slower. Projected to the three
    # columns downstream needs (guide §2.3) so whatever re-executes
    # carries no dead columns. At real scale the re-executed branches
    # stay scan-bound and columnar; the win there is the verdict-merge
    # below, not a materialization.
    flagged = (
        inc.join(ex_fp, "text_hash", "left")
        .select(F.col(id_col), F.col(text_col), F.col("_ex_id"))
    )
    exact_dups = flagged.filter(F.col("_ex_id").isNotNull()).select(
        F.col(id_col),
        F.lit("dup_exact").alias("status"),
        F.col("_ex_id").alias("matched_id"),
        F.lit(None).cast("double").alias("jaccard"),
    )
    survivors = flagged.filter(F.col("_ex_id").isNull()).drop("_ex_id")

    sig_new = minhash_signatures(survivors, id_col, text_col, n, num_hashes)
    sig_old = minhash_signatures(existing, id_col, text_col, n, num_hashes)
    b_new = _banded(sig_new, id_col, bands, rows_per_band).withColumnRenamed(id_col, "id_new")
    b_old = _banded(sig_old, id_col, bands, rows_per_band).withColumnRenamed(id_col, "id_old")
    # cross-side candidates only; checkpoint — the two verification join
    # branches below would otherwise re-execute both signature pipelines
    cand = (
        b_new.join(b_old, ["band", "bucket"])
        .select("id_new", "id_old")
        .distinct()
        .localCheckpoint(eager=True)
    )

    sh_new = (
        shingle_stream(
            survivors.join(cand.select(F.col("id_new").alias(id_col)).distinct(), id_col, "left_semi"),
            id_col,
            text_col,
            n,
        )
        .groupBy(id_col)
        .agg(F.collect_set(F.xxhash64("shingle")).alias("sh_new"))
    )
    sh_old = (
        shingle_stream(
            existing.join(cand.select(F.col("id_old").alias(id_col)).distinct(), id_col, "left_semi"),
            id_col,
            text_col,
            n,
        )
        .groupBy(id_col)
        .agg(F.collect_set(F.xxhash64("shingle")).alias("sh_old"))
    )
    verified = (
        cand.join(sh_new.select(F.col(id_col).alias("id_new"), "sh_new"), "id_new")
        .join(sh_old.select(F.col(id_col).alias("id_old"), "sh_old"), "id_old")
        .withColumn("n_common", F.size(F.array_intersect("sh_new", "sh_old")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.size("sh_new") + F.size("sh_old") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    best = verified.groupBy("id_new").agg(
        F.max_by(
            F.struct(F.col("id_old").alias("matched_id"), F.col("jaccard")),
            F.struct(F.col("jaccard"), (-F.col("id_old")).alias("_nid")),
        ).alias("m")
    )
    near_dups = best.select(
        F.col("id_new").alias(id_col),
        F.lit("dup_near").alias("status"),
        F.col("m.matched_id").alias("matched_id"),
        F.round("m.jaccard", 4).alias("jaccard"),
    )
    # near + kept verdicts from ONE pass (r14, the touch_attribution
    # precedent): the old shape anti-joined survivors against near_dups
    # and unioned the two frames — near_dups' whole verification pipeline
    # (candidate join + shingle-set joins + best-match aggregate) sat
    # under TWO plan branches and re-executed per branch. A LEFT join
    # keeps one row per survivor — matched rows carry the near verdict,
    # null-extended rows coalesce to 'kept' — so the verification
    # pipeline appears in the plan exactly once. best is keyed by id_new
    # (one row per survivor id at most), so the join multiplies nothing.
    out_new = (
        survivors.select(id_col)
        .join(near_dups, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("status"), F.lit("kept")).alias("status"),
            F.col("matched_id"),
            F.col("jaccard"),
        )
    )
    return exact_dups.unionByName(out_new)


def corpus_dedup(
    docs: DataFrame,
    score: Column | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """End-to-end corpus dedup with KEEP-BEST canonical selection — the
    one-call curation step a training-data pipeline actually runs:
    exact + MinHash-LSH near-dup evidence → transitive clusters → one
    surviving representative per cluster, chosen by QUALITY rather than
    accident of id.

    ``score`` is any per-row quality expression (default: token count —
    "keep the doc with the most content"); the canonical doc of a
    cluster is argmax (score, -id), so selection is deterministic and
    partitioning-independent. Returns one row per input doc (``id_col``
    is unique): (id_col, cluster_id, canonical_id, keep, n_members) — ``keep`` rows
    form the deduped corpus, ``~keep`` rows the drop ledger with their
    replacement.

    Scale shape: ``docs`` is evaluated exactly ONCE per call. One
    ``groupBy(id)`` over the zip-sliced shingle stream builds a narrow
    per-doc feature frame (id, text_hash, _score, sh) — ``sh`` the doc's
    set of xxhash64 shingle hashes, empty for docs with fewer than ``n``
    tokens, empty text or NULL text (``explode_outer`` keeps their row) —
    and one eager ``localCheckpoint`` materializes it. Every leg reads that
    checkpoint, never ``docs``: exact edges are ``groupBy(text_hash)
    .min(id)`` (hash + id on the wire); MinHash signatures fold
    ``explode(sh)`` with map-side partial mins (one row per doc on the
    wire); LSH banding and candidates are ``minhash_lsh_pairs``' own; verification semi-joins the checkpoint on
    the candidate ids instead of re-shingling the text; clustering takes
    ``connected_components``' measured driver/distributed crossover; the
    final selection is one map-side-combined ``max_by`` aggregate on
    (cluster_id) plus a join back. The text column never travels. The
    checkpoint holds ~8 bytes per distinct shingle per doc — the order of
    the (shingle, id) index ``ngram_jaccard_pairs`` checkpoints — and is
    released with the result (``caching.free_checkpoint(result)`` frees it).
    Reading ``docs`` once matters because it may carry an arbitrary plan —
    in a curation chain, the quality gates and their joins.
    """
    from audience_finder_pro_spark.operators.graph import dedup_clusters

    if score is None:
        score = F.size(tokens(text_col))

    feat = _doc_features(docs, score, id_col, text_col, n).localCheckpoint(eager=True)

    reps = feat.groupBy("text_hash").agg(F.min(id_col).alias("_rep"))
    exact_edges = (
        feat.join(reps, "text_hash")
        .filter(F.col(id_col) != F.col("_rep"))
        .select(F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    # a min-fold ignores duplicate shingles, so signatures over the SET
    # equal minhash_signatures' over every occurrence; explode drops the
    # empty sets (no shingles → no signature row, as there)
    sig = _minhash(feat.select(id_col, F.explode("sh").alias("h")), id_col, num_hashes)
    near_edges = _lsh_pairs(
        sig,
        id_col,
        bands,
        num_hashes // bands,
        threshold,
        lambda cand_ids: feat.join(cand_ids, id_col, "left_semi").select(id_col, "sh"),
    ).select("id_a", "id_b")
    clusters = dedup_clusters(feat, exact_edges.unionByName(near_edges), id_col=id_col)

    # keep-best stays a two-level groupBy + join: a window-form max_by over
    # cluster_id would single-pass it but drops the aggregate's map-side
    # combine — a viral dup cluster would be one straggler task at scale
    scored = feat.select(id_col, "_score").join(clusters, id_col)
    best = scored.groupBy("cluster_id").agg(
        F.max_by(id_col, F.struct(F.col("_score"), (-F.col(id_col)).alias("_nid"))).alias(
            "canonical_id"
        ),
        F.count("*").alias("n_members"),
    )
    return scored.join(best, "cluster_id").select(
        F.col(id_col),
        "cluster_id",
        "canonical_id",
        (F.col(id_col) == F.col("canonical_id")).alias("keep"),
        "n_members",
    )


def _doc_features(
    docs: DataFrame, score: Column, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, text_hash, _score, sh): one row per doc id, ``sh`` the
    collect_set of xxhash64 over the doc's space-joined word n-grams —
    the same shingle strings ``shingle_stream`` emits."""
    tok = tokens(text_col)
    # the zip-of-slices shape of functions/text.gram_stream, with every
    # slice cut to the shingle count so no row is a null-padded tail
    width = F.greatest(F.size(tok) - F.lit(n - 1), F.lit(0))
    grams = F.arrays_zip(*[F.slice(tok, i + 1, width).alias(f"_s{i}") for i in range(n)])
    # md5 and score are computed in this pre-explode projection, once per
    # doc; a generator's sibling expressions would run once per shingle
    per_doc = docs.select(
        F.col(id_col),
        norm_text_hash(text_col).alias("text_hash"),
        score.cast("double").alias("_score"),
        grams.alias("_grams"),
    )
    stream = per_doc.select(
        id_col, "text_hash", "_score", F.explode_outer("_grams").alias("_z")
    )
    # the outer row of a shingle-less doc has a NULL _z: hash it to NULL,
    # which collect_set skips, leaving an empty set
    h = F.when(
        F.col("_z").isNotNull(),
        F.xxhash64(F.concat_ws(" ", *[F.col(f"_z._s{i}") for i in range(n)])),
    )
    return stream.groupBy(id_col).agg(
        F.first("text_hash").alias("text_hash"),
        F.first("_score").alias("_score"),
        F.collect_set(h).alias("sh"),
    )


def repeated_passages(
    docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Passage-level duplication detector (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the repeated-substring
    rule, at word-n-gram granularity): flag every token span covered by an
    n-gram that occurs ≥ ``min_count`` times ANYWHERE in the corpus
    (within- or cross-document), and report the spans as merged disjoint
    token intervals so a downstream projection can excise them.

    Per input doc: (id_col, n_grams, n_repeated_grams, repeated_fraction,
    spans) — ``spans`` is "start-end;start-end;..." in token coordinates
    (end inclusive, each span ≥ n tokens), '' when clean, and
    ``repeated_fraction`` is NULL for docs with < n tokens (no grams).
    Total function: one row per doc.

    Scale shape: the positional gram stream is the zip-of-slices form
    (zero exchange — tokens hashed once, n-wide zip copies 8-byte longs);
    the occurrence count is one map-side-combined groupBy on the gram
    hash; flagged positions come back via a semi-join against the ≥min_count
    remnant (small — bounded by the corpus's actual duplication volume);
    island detection + interval merging run in per-doc windows over
    FLAGGED positions only. The raw position stream shuffles once (the
    count aggregate) and the semi-join probe is its second and last wide
    move; text never travels. Hash-vs-string equality carries the usual
    xxhash64 collision exposure (~1e-12 at 1e6 grams — the
    decontaminate_docs precedent); the SQL oracle counts gram strings.
    """
    tok = tokens(text_col)
    th = F.transform(tok, lambda x: F.xxhash64(x))
    slices = [
        F.slice(F.col("_th"), i + 1, F.greatest(F.size(F.col("_th")) - i, F.lit(0))).alias(
            f"_s{i}"
        )
        for i in range(n)
    ]
    pg = (
        docs.select(F.col(id_col), th.alias("_th"))
        .select(F.col(id_col), F.posexplode(F.arrays_zip(*slices)).alias("pos", "_z"))
        .filter(F.col(f"_z._s{n - 1}").isNotNull())
        .select(id_col, "pos", F.xxhash64(*[F.col(f"_z._s{i}") for i in range(n)]).alias("gh"))
    )
    hot = pg.groupBy("gh").agg(F.count("*").alias("_c")).filter(F.col("_c") >= min_count)
    flagged = pg.join(hot.select("gh"), "gh", "left_semi")

    w = Window.partitionBy(id_col).orderBy("pos")
    runs = (
        flagged.withColumn("_isl", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "_isl")
        .agg(
            F.min("pos").alias("_s"),
            (F.max("pos") + F.lit(n - 1)).alias("_e"),
            F.count("*").alias("_c"),
        )
    )
    # merge token intervals: runs < n gram-positions apart overlap (or touch)
    # in token space — classic gaps-and-islands on the running max end
    w2 = Window.partitionBy(id_col).orderBy("_s", "_e")
    prev_max = F.max("_e").over(w2.rowsBetween(Window.unboundedPreceding, -1))
    grouped = runs.withColumn(
        "_ng", F.when(F.col("_s") > F.coalesce(prev_max, F.lit(-2)) + 1, 1).otherwise(0)
    ).withColumn("_grp", F.sum("_ng").over(w2.rowsBetween(Window.unboundedPreceding, 0)))
    spans = grouped.groupBy(id_col, "_grp").agg(
        F.min("_s").alias("start_pos"), F.max("_e").alias("end_pos"), F.sum("_c").alias("_c")
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_repeated_grams"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("start_pos", "end_pos"))),
                lambda s: F.concat_ws("-", s.start_pos.cast("string"), s.end_pos.cast("string")),
            ),
            ";",
        ).alias("spans"),
    )
    totals = docs.select(
        F.col(id_col), F.greatest(F.size(tok) - F.lit(n - 1), F.lit(0)).cast("long").alias("n_grams")
    )
    return totals.join(per_doc, id_col, "left").select(
        id_col,
        "n_grams",
        F.coalesce("n_repeated_grams", F.lit(0)).cast("long").alias("n_repeated_grams"),
        F.when(
            F.col("n_grams") > 0,
            F.round(F.coalesce("n_repeated_grams", F.lit(0)) / F.col("n_grams"), 4),
        ).alias("repeated_fraction"),
        F.coalesce("spans", F.lit("")).alias("spans"),
    )


def source_overlap(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    threshold: float = 0.8,
    df_cap_frac: float = 0.05,
) -> DataFrame:
    """Cross-source near-duplicate contamination matrix: for every
    unordered source pair (including the diagonal), how many verified
    near-dup pairs straddle it, normalized to pairs-per-million possible
    doc pairs — the number a curation team reads to decide which crawls
    double-count each other (and how redundant each source is with
    itself) before mixing.

    ``pairs`` defaults to the exact-Jaccard inverted-index pipeline
    (SQL-replayable → this operator keeps a DuckDB oracle); pass
    ``minhash_lsh_pairs`` output instead at scales where exact Jaccard
    is not run corpus-wide. Output is a total function over source
    pairs: (source_a ≤ source_b, n_docs_a, n_docs_b, n_pairs,
    pairs_per_million) with a NULL rate when the denominator is empty
    (single-doc source diagonal).

    Scale shape: the doc→source tag rides two id-keyed joins against
    the (small) verified-pair remnant — the corpus itself is never
    re-shuffled; the matrix skeleton is a self-join of the per-source
    count aggregate (n_sources² rows, trivially broadcast).
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(
            docs, id_col, text_col, threshold=threshold, df_cap_frac=df_cap_frac
        )
    src = docs.select(F.col(id_col), F.col(source_col))
    tagged = (
        pairs.join(
            src.select(F.col(id_col).alias("id_a"), F.col(source_col).alias("_sa")), "id_a"
        )
        .join(src.select(F.col(id_col).alias("id_b"), F.col(source_col).alias("_sb")), "id_b")
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
    )
    counts = tagged.groupBy("source_a", "source_b").agg(F.count("*").alias("n_pairs"))
    srcs = docs.groupBy(source_col).agg(F.count("*").alias("n_docs"))
    a = srcs.select(F.col(source_col).alias("source_a"), F.col("n_docs").alias("n_docs_a"))
    b = srcs.select(F.col(source_col).alias("source_b"), F.col("n_docs").alias("n_docs_b"))
    mat = a.join(b, F.col("source_a") <= F.col("source_b"))
    denom = F.when(
        F.col("source_a") == F.col("source_b"),
        F.col("n_docs_a") * (F.col("n_docs_a") - 1) / 2.0,
    ).otherwise(F.col("n_docs_a") * F.col("n_docs_b"))
    return (
        mat.join(counts, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.col("n_docs_a").cast("long").alias("n_docs_a"),
            F.col("n_docs_b").cast("long").alias("n_docs_b"),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.when(
                denom > 0,
                F.round(F.coalesce("n_pairs", F.lit(0)) * F.lit(1e6) / denom, 4),
            ).alias("pairs_per_million"),
        )
    )


def chunk_dedup_verdicts(
    chunks: DataFrame,
    id_col: str = "doc_id",
    partial_threshold: float = 0.3,
    dup_threshold: float = 0.8,
) -> DataFrame:
    """Chunk-level dedup verdicts over a content-defined chunk stream
    (the E66+A9 composition the CDC operator exists for, VERDICT r11
    ask #3): the rsync-style CONTAINMENT detector. Exact dedup (this
    module, `exact_dedup`) answers "is this document a copy"; the
    repeated-passage rule (E25) approximates "does it CONTAIN copied
    spans" positionally; this operator answers it exactly at chunk
    granularity — because `cdc_chunks` (operators/packing.py) realigns
    chunk boundaries after edits, a document that embeds another's text
    keeps hash-identical chunks past every splice point, which
    fixed-stride chunking structurally loses.

    Rule: a chunk INSTANCE is duplicated iff a LOWER-id document carries
    a chunk with the same hash (the keep-first canonical-owner rule
    `exact_dedup` uses, at chunk grain). Per document:
    dup_frac = duplicated-chunk tokens / total tokens, rounded to 4dp
    BEFORE thresholding (identical boundary behavior in any engine);
    verdict = 'duplicate' (>= dup_threshold), 'partial'
    (>= partial_threshold), else 'unique'. The corpus owner of fresh
    text reads 'unique' by construction — downstream keeps owners and
    drops/flags containments.

    Scale shape: only (id, n_tokens, chunk_hash) go on the wire — never
    chunk text. Owners come from a map-side-combined
    ``groupBy(chunk_hash).agg(min(id))`` joined back on the hash — NOT a
    min-over-window: a window partition parks EVERY instance of one
    chunk hash on a single task, and a boilerplate chunk (license
    header, nav footer) shared by millions of documents is a hot key by
    construction — precisely what this operator exists to find. The
    aggregate collapses each hash to one owner row map-side before the
    exchange, and AQE's skew-join can split the join-back where a
    window partition cannot be split. Cost stays linear in chunk count
    at any corpus size.

    Returns (id_col, n_chunks, n_tokens, dup_chunks, dup_tokens,
    dup_frac, verdict). Fully SQL-replayable (integer sums + one
    division) — the declared `cdc_chunk_dedup` query hash-gates it."""
    if not 0.0 < partial_threshold <= dup_threshold <= 1.0:
        raise ValueError(
            "chunk_dedup_verdicts needs 0 < partial_threshold <= "
            "dup_threshold <= 1"
        )
    slim = chunks.select(id_col, "n_tokens", "chunk_hash")
    owners = slim.groupBy("chunk_hash").agg(F.min(id_col).alias("_owner"))
    dup = (F.col("_owner") < F.col(id_col)).cast("int")
    per_doc = (
        slim.join(owners, "chunk_hash")
        .withColumn("_dup", dup)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("_dup").alias("dup_chunks"),
            F.sum(F.col("n_tokens") * F.col("_dup")).alias("dup_tokens"),
        )
    )
    frac = F.round(F.col("dup_tokens") / F.col("n_tokens"), 4)
    return per_doc.select(
        id_col,
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("dup_chunks").cast("long").alias("dup_chunks"),
        F.col("dup_tokens").cast("long").alias("dup_tokens"),
        frac.alias("dup_frac"),
        F.when(frac >= F.lit(float(dup_threshold)), "duplicate")
        .when(frac >= F.lit(float(partial_threshold)), "partial")
        .otherwise("unique")
        .alias("verdict"),
    )
