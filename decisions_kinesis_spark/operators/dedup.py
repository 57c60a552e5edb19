"""Deduplication operators for large-scale training-data pipelines.

Five families over the ``documents`` table (north-star extensions,
SURVEY.md §7 M6):

- exact duplicate detection (content-hash groupBy);
- MinHash signatures + banded LSH candidate pairs with exact Jaccard
  verification (the 100 TB near-dup path: shingle→minhash→band→
  bucket-join, all shuffle-on-key operations with bounded fanout);
- SimHash (bitwise majority over token hashes) + hamming-block pairs;
- hashed-signature n-gram Jaccard verification (no driver collect);
- connected-components cluster assignment over ANY pair frame
  (adaptive driver union-find / distributed label propagation).

Cross-engine determinism: every hash is
``bigint(first 15 hex chars of md5(s))`` — identical in Spark
(``conv(substring(md5(s),1,15),16,10)``) and DuckDB
(``('0x'||substr(md5(s),1,15))::BIGINT``) — so the DuckDB oracles
check VALUES, not just shapes.

The fixture corpus has no natural duplicates, so the dedup queries
inject _DUP_N exact copies (doc_id+_DUP_OFFSET, one shared constant
pair) on BOTH sides —
making the detected-duplicate set non-trivially verifiable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from decisions_kinesis_spark.functions.parallel import (
    cached,
    materialize,
    materialize_many,
)
from decisions_kinesis_spark.operators.textops import (
    _BIGHASH,
    _DUCK_BIGHASH,
    _DUCK_QUALITY,
    _DUCK_TOKS,
    _STOP_SQL,
    _TOKS,
)
from decisions_kinesis_spark.sources.tables import load_table

#: Word 3-gram shingles from the token array (1-based element_at).
_SHINGLES = (
    "transform(sequence(1, greatest(size(toks) - 2, 0)),"
    " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ',"
    " element_at(toks, i + 2)))"
)

_N_SEEDS = 8  # minhash signature length; 4 bands × 2 rows

# Universal-hash family for MinHash: one md5 per shingle (40-bit base
# hash), then seed_i(h) = (a_i·h + b_i) mod P — 8× fewer digests than
# hashing (seed, shingle) pairs, still pairwise-independent enough for
# minhashing.  All constants are literals inlined identically in the
# DuckDB oracle; arithmetic stays < 2^62 so both engines agree exactly.
_MINHASH_P = (1 << 61) - 1
_MINHASH_A = tuple(2 * i + 1 for i in range(_N_SEEDS))
_MINHASH_B = tuple((i * 2654435761) % _MINHASH_P for i in range(_N_SEEDS))

#: 40-bit base hash of a shingle (first 10 md5 hex chars).
_BASE40_SPARK = "cast(conv(substring(md5(shingle), 1, 10), 16, 10) as bigint)"
_BASE40_DUCK = "('0x' || substr(md5(shingle), 1, 10))::BIGINT"


def _seeded(seed_col: str, h_col: str) -> str:
    """(a[seed]·h + b[seed]) mod P as an inline CASE over seed literals."""
    arms = " ".join(
        f"WHEN {i} THEN ({a} * {h_col} + {b}) % {_MINHASH_P}"
        for i, (a, b) in enumerate(zip(_MINHASH_A, _MINHASH_B))
    )
    return f"(CASE {seed_col} {arms} END)"
#: the injected-copy fixture contract, in ONE place: the first _DUP_N
#: documents are duplicated at doc_id + _DUP_OFFSET.  Everything that
#: maps an injected id back to its origin (the source-overlap matrix)
#: derives from these constants AND tests membership in the exact
#: injected window [_DUP_OFFSET, _DUP_OFFSET + _DUP_N) — a genuine
#: corpus document with doc_id ≥ _DUP_OFFSET is never remapped.
_DUP_OFFSET = 100_000
_DUP_N = 20

_DUP_SQL_CORPUS = f"""
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_DUP_OFFSET} AS doc_id, text
        FROM documents WHERE doc_id < {_DUP_N}
"""


def _with_injected_dups(docs: DataFrame) -> DataFrame:
    """documents ∪ _DUP_N exact copies (doc_id+_DUP_OFFSET) — see
    module doc."""
    copies = docs.filter(F.col("doc_id") < _DUP_N).select(
        (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"), "text"
    )
    return docs.select("doc_id", "text").unionByName(copies)


def _doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct pairs."""
    from decisions_kinesis_spark.functions.parallel import ensure_parallelism

    return (
        ensure_parallelism(docs)
        .withColumn("toks", F.expr(_TOKS))
        .select("doc_id", F.explode(F.expr(_SHINGLES)).alias("shingle"))
        .distinct()
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 content hash; keeper = min doc_id per hash.

    Scale: keeper selection is a partial-aggregating groupBy (map-side
    combine shrinks even a pathologically hot fingerprint — one doc
    duplicated a million times — before the shuffle), joined back on
    the hash with AQE skew-join splitting the probe side.  A window
    over the hash would pile every copy of a hot fingerprint into ONE
    partition that AQE cannot split; the agg+join shape has no such
    single-reducer ceiling.
    """
    corpus = _with_injected_dups(load_table(spark, "documents", sf_dir)).withColumn(
        "fp", F.md5(F.col("text"))
    )
    keepers = corpus.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    return corpus.join(keepers, "fp").select(
        "doc_id", "fp", (F.col("doc_id") == F.col("keeper")).alias("keep")
    )


def _signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, seed, minhash) from (doc_id, shingle) pairs.

    One md5 per shingle; the per-seed hashes are linear transforms of
    the 40-bit base hash (see _MINHASH_* above).  Map-side partial min
    keeps the shuffle at |docs|×|seeds| rows regardless of doc length.
    NOTE deliberately explode-shaped, not array-lambda-shaped: the md5
    and the per-seed CASE run inside whole-stage codegen here, and the
    groupBy exchange materializes the result so downstream consumers
    never recompute it.  (A map-only higher-order-function variant was
    measured 8-10x slower: interpreted lambdas, plus projection
    collapse re-inlining the hash work into every consumer.)
    """
    return (
        sh.withColumn("h40", F.expr(_BASE40_SPARK))
        .withColumn("seed", F.explode(F.sequence(F.lit(0), F.lit(_N_SEEDS - 1))))
        .withColumn("h", F.expr(_seeded("seed", "h40")))
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("minhash"))
    )


def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures, long format: (doc_id, seed, minhash)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return _signatures(_doc_shingles(docs))


def _signature_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig): banded LSH keys from (doc_id, seed,
    minhash) signatures, two seeds per band."""
    return sig.groupBy(
        "doc_id", (F.col("seed") / 2).cast("int").alias("band")
    ).agg(
        F.expr(
            "concat_ws(',', transform(array_sort(collect_list(struct(seed, minhash))),"
            " x -> cast(x.minhash as string)))"
        ).alias("band_sig")
    )


def _band_table(sh: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig): banded LSH keys from (doc_id, shingle)."""
    return _signature_bands(_signatures(sh))


def _band_candidates(bands: DataFrame) -> DataFrame:
    """(doc_a, doc_b) with doc_a < doc_b: the distinct pairs that share
    at least one band key — an equi-join on (band, band_sig), so the
    fanout is bounded by bucket size, never all-pairs."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _shared_shingles(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter): exact shingle intersection size of each
    candidate pair — only candidates pay the verification join."""
    return (
        cand.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )


def _with_sizes(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """``pairs`` plus each side's shingle count, as ``za.n_sh`` and
    ``zb.n_sh``."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    return pairs.join(
        sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id")
    ).join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))


def _jaccard_pairs(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Candidate pairs with ``n_inter``, both sizes and the exact shingle
    ``jaccard`` (rounded to 4dp)."""
    return _with_sizes(_shared_shingles(cand, sh), sh).withColumn(
        "jaccard",
        F.round(
            F.col("n_inter")
            / (F.col("za.n_sh") + F.col("zb.n_sh") - F.col("n_inter")),
            4,
        ),
    )


def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate pairs, verified with exact shingle Jaccard.

    Scale: candidates come from equi-joining band keys (shuffle on the
    band signature, fanout bounded by bucket size); only candidates pay
    the exact-Jaccard verification join.  This is the standard
    MinHash-LSH dedup topology for 100 TB corpora.
    """
    corpus = _with_injected_dups(load_table(spark, "documents", sf_dir))
    # Materialize the shingle set once (executor-local, MEMORY_AND_DISK):
    # four consumers (band keys, both verify sides, sizes) would
    # otherwise each recompute the scan→explode→distinct chain — at any
    # scale, one materialization of |docs|×|shingles| beats four
    # recomputes of it.  Trade (standard for checkpoints): blocks live
    # until the frame is GC'd, and lineage is non-replayable — an
    # executor loss fails the query instead of recomputing.
    sh = materialize(_doc_shingles(corpus))
    cand = _band_candidates(_band_table(sh))
    return (
        _jaccard_pairs(cand, sh)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_minhash_estimate_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash ESTIMATE calibration — the dedup-family counterpart of
    ``ann_recall_at_k``'s index calibration: for every banded-LSH
    candidate pair, the signature-based Jaccard estimate (fraction of
    agreeing minhash seeds — the unbiased estimator E[agree/k] = J the
    sketch exists to provide) next to the exact shingle Jaccard, both
    in exact integer ppm, with the signed estimator error.  Exact
    duplicates must calibrate to err = 0 (all seeds agree AND J = 1);
    the k = 8 signature's coarse 1/8 quantization is the visible,
    checkable tradeoff.

    Scale: signatures are computed ONCE (localCheckpoint) and feed
    both the band keys and the agreement join; candidates come from
    band equi-joins (never all-pairs); the agreement join ships
    |cand|·k signature rows; exact verification joins shingles on
    candidates only — the ``dedup_minhash_lsh_pairs`` topology plus
    one bounded-fanout join.
    """
    corpus = _with_injected_dups(load_table(spark, "documents", sf_dir))
    sh = materialize(_doc_shingles(corpus))
    sig = materialize(_signatures(sh))
    cand = _band_candidates(_signature_bands(sig))
    agree = (
        cand.join(sig.alias("ga"), F.col("doc_a") == F.col("ga.doc_id"))
        .join(
            sig.alias("gb"),
            (F.col("doc_b") == F.col("gb.doc_id"))
            & (F.col("ga.seed") == F.col("gb.seed")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(
                F.when(F.col("ga.minhash") == F.col("gb.minhash"), 1)
            ).alias("n_agree")
        )
    )
    inter = _shared_shingles(cand, sh)
    pairs = agree.join(inter, ["doc_a", "doc_b"], "left").withColumn(
        "n_inter", F.coalesce("n_inter", F.lit(0))
    )
    return (
        _with_sizes(pairs, sh)
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            F.expr(f"(n_agree * 1000000) div {_N_SEEDS}").alias("est_ppm"),
            F.expr(
                "(n_inter * 1000000) div (za.n_sh + zb.n_sh - n_inter)"
            ).alias("exact_ppm"),
        )
        .withColumn("err_ppm", F.col("est_ppm") - F.col("exact_ppm"))
    )


_CONTAIN_T = 0.9  # containment threshold for the partial-dup verdict


def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection by shingle CONTAINMENT
    (|A∩B| / min(|A|,|B|)) — the metric that catches PARTIAL
    duplication symmetric Jaccard misses: a document fully contained
    in a longer one (truncated scrape, quoted article, boilerplate
    wrapper) has containment ≈ 1 while Jaccard ≈ |A|/|B| can sit far
    below every dedup threshold.  Candidates come from the same
    banded-MinHash collisions as ``dedup_minhash_lsh_pairs``; each
    pair reports both metrics plus the ``partial_dup`` verdict
    (containment ≥ 0.9 while Jaccard < 0.8 — the class only this
    operator flags).

    Fixture (the ``_with_injected_dups`` discipline): the corpus is
    augmented with the FIRST HALF of each doc_id < 20 document
    (offset +300000) — true containment ≈ 1, Jaccard ≈ 0.5, i.e.
    invisible to the J ≥ 0.8 dedup.  LSH recall for J ≈ 0.5 pairs is
    partial by construction (the banding knob, same contract as the
    symmetric query); the oracle replays the identical bands, so
    every emitted value is exact.

    Scale: identical topology to the symmetric pair query — band
    equi-join candidates, shingle-join verification on candidates
    only, sizes joined back; no new shuffle shapes.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    halves = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.expr(
            "array_join(slice(filter(split(lower(text), '\\\\s+'),"
            " x -> x != ''), 1, greatest(size(filter(split(lower(text),"
            " '\\\\s+'), x -> x != '')) div 2, 1)), ' ')"
        ).alias("text"),
    )
    corpus = docs.unionByName(halves)
    sh = materialize(_doc_shingles(corpus))
    cand = _band_candidates(_band_table(sh))
    return (
        _jaccard_pairs(cand, sh)
        .withColumn(
            "containment",
            F.round(
                F.col("n_inter") / F.least(F.col("za.n_sh"), F.col("zb.n_sh")),
                4,
            ),
        )
        .filter(F.col("containment") >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "jaccard",
            "containment",
            (
                (F.col("containment") >= _CONTAIN_T)
                & (F.col("jaccard") < 0.8)
            ).alias("partial_dup"),
        )
    )


def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup detection: a new batch of documents checked
    against the EXISTING corpus via LSH band keys — the production shape
    at 100 TB, where re-deduplicating the whole corpus per ingest is
    impossible and only |batch| × bucket-mates candidates are generated.

    Split: corpus = doc_id % 10 != 0; batch = doc_id % 10 == 0 plus
    exact copies of 18 corpus docs (doc_id + 200000) so the detected
    set is non-trivial.  Candidates come from the band equi-join of the
    batch's band table against the corpus band table (in production the
    corpus band table is a PERSISTED index, bucketed by band_sig — the
    batch-side table is the only per-ingest computation); candidates
    are verified with exact shingle Jaccard.  Output: one row per batch
    doc with its match count and best corpus match (max jaccard, ties
    to the smallest corpus doc_id — a ``max_by`` aggregate with
    map-side combine, not a window).
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .unionByName(
            corpus.filter(F.col("doc_id") < 20).select(
                (F.col("doc_id") + 200000).alias("doc_id"), "text"
            )
        )
    )
    # independent shingle pipelines (corpus vs batch) — overlap their
    # materialization jobs (guide §2.6)
    sh_c, sh_n = materialize_many(
        _doc_shingles(corpus), _doc_shingles(batch)
    )
    cand = (
        _band_table(sh_n)
        .alias("n")
        .join(
            _band_table(sh_c).alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.band_sig") == F.col("c.band_sig")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"), F.col("c.doc_id").alias("corpus_id")
        )
        .distinct()
    )
    sizes_n = sh_n.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sizes_c = sh_c.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        cand.join(sh_n.alias("sa"), F.col("new_id") == F.col("sa.doc_id"))
        .join(
            sh_c.alias("sb"),
            (F.col("corpus_id") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("new_id", "corpus_id")
        .agg(F.count("*").alias("n_inter"))
    )
    matches = (
        inter.join(sizes_n.alias("za"), F.col("new_id") == F.col("za.doc_id"))
        .join(sizes_c.alias("zb"), F.col("corpus_id") == F.col("zb.doc_id"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("za.n_sh") + F.col("zb.n_sh") - F.col("n_inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .groupBy("new_id")
        .agg(
            F.count("*").alias("n_matches"),
            # composite argmax key as ONE bigint (jaccard has 4 decimals
            # → integer in 14 bits; corpus_id ≪ 2^40): max jaccard,
            # ties to the smallest corpus_id — DuckDB's max_by has no
            # struct ordering, so both engines use this scalar key
            F.expr(
                "max_by(corpus_id, cast(floor(jaccard * 1e4 + 0.5) as bigint)"
                " * 1099511627776 - corpus_id)"
            ).alias("best_match"),
            F.max("jaccard").alias("best_jaccard"),
        )
    )
    return (
        batch.select("doc_id")
        .join(matches, F.col("doc_id") == F.col("new_id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_matches"), F.lit(0)).alias("n_matches"),
            "best_match",
            "best_jaccard",
        )
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (majority vote over token-hash bits).

    Scale: the 32 per-bit majority counters are 32 CONDITIONAL SUM
    aggregate columns (codegen'd ±1 sums with map-side partial
    aggregation) — the doc_id shuffle carries 32 ints per partial
    group instead of the per-doc token-hash list a collect_list
    variant would move, and the key assembles scan-side from the
    finished sums.  Exact integer arithmetic, so the majority verdict
    is order-free and bit-identical to the DuckDB oracle.  Near-dup
    pairs are then found by hamming distance on the 32-bit key
    (pigeonhole blocking, see ``dedup_simhash_hamming_pairs``).
    """
    from decisions_kinesis_spark.functions.parallel import ensure_parallelism

    docs = ensure_parallelism(
        load_table(spark, "documents", sf_dir).select("doc_id", "text")
    )
    toks = (
        docs.withColumn("toks", F.expr(_TOKS))
        .select("doc_id", F.explode(F.array_distinct("toks")).alias("token"))
        .withColumn("h", F.expr(_BIGHASH.format(e="token")))
    )
    sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(f"if((h div {1 << b}) % 2 = 1, 1, -1)")
            ).alias(f"s{b}")
            for b in range(32)
        ]
    )
    key = " + ".join(
        f"if(s{b} > 0, cast({1 << b} as bigint), cast(0 as bigint))"
        for b in range(32)
    )
    return sums.select("doc_id", F.expr(key).alias("simhash"))


_SIMHASH_MAX_HAMMING = 2  # the pigeonhole contract: 3 blocks cover h ≤ 2


def dedup_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ 2, with pigeonhole
    blocking: split the 32-bit key into 3 ~11-bit blocks — a pair
    within hamming 2 cannot touch all 3 blocks, so agreeing on at
    least one block is a complete (superset) candidate filter, and
    11-bit agreement keeps candidate buckets small.  Candidates
    come from an equi-join on (block_idx, block_value); the exact
    popcount(xor) check verifies.  This is the standard way to scale
    simhash dedup: |blocks|×|docs| index rows, no quadratic scan.
    Completeness for h ≤ 2 is proven empirically by
    ``test_simhash_banding_complete_for_contract_distance``.
    """
    # materialize the (doc_id, simhash) frame once (tiny: one row per
    # doc) so the self-join does not recompute the token-hash pipeline
    # on both sides
    sim = materialize(dedup_simhash(spark, sf_dir))
    return simhash_hamming_pairs_from_keys(sim)


def simhash_hamming_pairs_from_keys(sim: DataFrame) -> DataFrame:
    """Pigeonhole blocking + exact verify over ANY (doc_id, simhash)
    frame — split out so the banding recall contract is testable on
    synthetic keys at controlled hamming distances (the oracle cannot
    see a recall bug: it replays the same blocking)."""
    blocks = sim.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("blk"),
    ).withColumn("blk_val", F.expr("(simhash div shiftleft(cast(1 as bigint), blk * 11)) % 2048"))
    a, b = blocks.alias("a"), blocks.alias("b")
    # The exact popcount check runs BEFORE the distinct: a pair found via
    # k agreeing blocks would otherwise reach the dedup shuffle k times,
    # and false candidates (same block, hamming > 2) would reach it at
    # all.  bit_count on the join output is codegen'd, so filtering here
    # is free and the distinct exchange carries only true near-pairs.
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").cast("bigint").alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
        .distinct()
    )
    return cand.select("doc_a", "doc_b", "hamming")


_SIG_BITS = 1024  # hashed token-signature width
_SIG_BLOCKS = _SIG_BITS // 64
def _ratio_boundaries(limit: int, num: int = 5, den: int = 4) -> list[int]:
    """Geometric length-band boundaries g_{k+1} = ceil(g_k * num/den),
    computed in EXACT integer arithmetic so Spark and DuckDB band
    identically (no float log whose last-ulp could differ per libm).

    With ratio num/den = 1.25: two docs whose distinct-index counts
    satisfy the J >= 0.8 necessary condition min/max >= 0.8 can have at
    most ONE boundary strictly between them (two boundaries g_k < g_{k+1}
    in (n_a, n_b] would force n_b >= 1.25*g_k > 1.25*n_a >= n_b), so
    same-band + adjacent-band keying is a COMPLETE candidate filter for
    J >= 0.8 at ANY document size — the round-2 fixed-width-32 caveat
    (complete only up to n = 128) is gone.
    """
    g, out = 1, []
    while True:
        g = -(-(g * num) // den)  # exact ceil(g*num/den)
        if g > limit:
            return out
        out.append(g)


_RATIO_BOUNDS = _ratio_boundaries(_SIG_BITS)
#: band(n) = number of boundaries <= n; codegen-able indicator sum, the
#: same integer literals inlined into both engines' SQL.
_BAND_SPARK = " + ".join(f"cast(n >= {g} as int)" for g in _RATIO_BOUNDS)
_BAND_DUCK = " + ".join(f"(len(idxs) >= {g})::INT" for g in _RATIO_BOUNDS)


def _ngram_sig_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared banded-signature frame of the n-gram Jaccard family over
    the corpus table — see ``_ngram_sig_from_docs`` for the pipeline
    (frame-level so the streaming maintenance proof runs the identical
    signature arithmetic per micro-batch)."""
    from decisions_kinesis_spark.functions.parallel import ensure_parallelism

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "text"
    )
    return _ngram_sig_from_docs(ensure_parallelism(docs))


def _ngram_sig_from_docs(docs: DataFrame) -> DataFrame:
    """Banded-signature pipeline over a (doc_id, lang, text) frame:
    per doc its distinct-hashed-token count ``n``, the 1024-bit
    signature as 16 scalar bigint columns ``m0..m15``, and the
    geometric length ``band``.

    md5 runs codegen'd on scalar exploded rows (measured ~10× faster
    than the same hash inside array lambdas); the signature lives in
    16 SCALAR bigints, not one array, so the pair loop's bit_count/&/|
    stay inside whole-stage codegen (~5× over interpreted lambdas)."""
    idx = (
        docs
        .withColumn("toks", F.expr(_TOKS))
        .select("doc_id", "lang", F.explode("toks").alias("token"))
        .withColumn("idx", F.expr(f"{_BIGHASH.format(e='token')} % {_SIG_BITS}"))
        .select("doc_id", "lang", "idx")
        .distinct()
    )
    return idx.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n"),
        *[
            F.expr(
                f"bit_or(if(idx div 64 = {b},"
                " shiftleft(cast(1 as bigint), cast(idx % 64 as int)),"
                " cast(0 as bigint)))"
            ).alias(f"m{b}")
            for b in range(_SIG_BLOCKS)
        ],
    ).withColumn("band", F.expr(_BAND_SPARK))


def _ngram_jac_expr():
    """Exact bitset Jaccard of an aliased (a, b) signature pair."""
    popcnt = " + ".join(
        "bit_count(a.m{b} {op} b.m{b})".replace("{b}", str(b))
        for b in range(_SIG_BLOCKS)
    )
    return F.round(
        F.expr(popcnt.format(op="&")).cast("double")
        / F.expr(popcnt.format(op="|")),
        4,
    ).alias("jac")


def _same_band_pairs(m: DataFrame) -> DataFrame:
    """Same-(lang, band) candidate pairs (doc_id< ordered) with their
    exact bitset Jaccard — the band-completeness contract in ONE
    place, shared by the complete verifier and the sampled estimator
    (whose Q=1 degeneracy to the full same-band verification depends
    on this join being literally the same)."""
    a, b = m.alias("a"), m.alias("b")
    return a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.band") == F.col("b.band"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.lang").alias("lang"), _ngram_jac_expr())


def dedup_ngram_jaccard_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed token-set Jaccard within blocking groups (lang × length
    band).

    The verification counterpart to MinHash: each doc's distinct-token
    set becomes a fixed-width 1024-bit signature (token → md5 → bit
    index), so Jaccard is popcount(a&b)/popcount(a|b) — integer ops,
    no per-pair string sets, and crucially NO driver-side vocabulary
    collect: signatures are built from an explode→distinct→bit_or
    pipeline (md5 inside whole-stage codegen; the groupBy exchanges
    keep the pair join from recomputing the hash work) at any
    vocabulary size (hashing makes it approximate; the MinHash-LSH
    pipeline is the recall-controlled scale path).  Pairs are generated
    only within (lang, length-band) blocks, where bands are RATIO
    (geometric) bands with exact-integer boundaries g_{k+1} =
    ceil(1.25 * g_k) (see ``_ratio_boundaries``): at J ≥ 0.8 the two
    set sizes satisfy min/max ≥ 0.8, which fits at most one boundary
    between them, so same-band (doc_id< ordered) plus adjacent-band
    (band order oriented) keying is a COMPLETE candidate filter for
    J ≥ 0.8 at ANY document size (the band axis adapts to the LENGTH
    distribution, so growing documents cannot blow a fixed band up).

    SCALE POSTURE (corrected by the round-8 100× smoke): completeness
    makes the within-band pair count QUADRATIC IN CORPUS SIZE — the
    band count is fixed by the length distribution, so a 100× corpus
    multiplies block populations 100× and candidate pairs 100²×
    (measured: 0.40M same-band pairs at sf0.1 → 4.07G at 100×, turning
    a 2.4 s query into a 45+-minute one).  That is INHERENT to any
    complete J ≥ 0.8 candidate filter (a sub-quadratic complete filter
    would contradict the lower bound that makes MinHash exist); this
    operator is therefore the bounded-corpus VERIFICATION tier — run
    it on a block, a sample, or a disputed cluster — while
    ``dedup_minhash_lsh_pairs`` (banded signatures, recall-controlled,
    measured 10.8× wall at 100× data) is the full-corpus scale path.
    Output: per-lang near-dup stats at Jaccard ≥ 0.8.
    """
    m = _ngram_sig_frame(spark, sf_dir)
    # Neighbor-band candidates WITHOUT duplicate pairs: two disjoint
    # equi-joins — same band (doc_id< orders the pair) and adjacent band
    # (band order orients the pair) — so no distinct pass is needed.
    # m is materialized once; both joins reuse it.
    m = materialize(m)
    same = _same_band_pairs(m)
    a, b = m.alias("a"), m.alias("b")
    adjacent = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.band") + 1 == F.col("b.band")),
    ).select(F.col("a.lang").alias("lang"), _ngram_jac_expr())
    pairs = same.unionByName(adjacent)
    return pairs.groupBy("lang").agg(
        F.count("*").alias("n_pairs"),
        F.sum((F.col("jac") >= 0.8).cast("bigint")).alias("n_neardup"),
        F.round(F.avg("jac"), 4).alias("avg_jac"),
    )


#: target sampled-doc count of the adaptive verifier: Q = max(1,
#: D div _NGRAM_SAMPLE_TARGET) holds the sampled population — and so
#: the quadratic verification cost — roughly CONSTANT as D grows.
_NGRAM_SAMPLE_TARGET = 2000


def _pow2_ceil(x: int) -> int:
    """Smallest power of two ≥ x (x ≥ 1)."""
    return 1 << (x - 1).bit_length()


def _ngram_sample_q(spark: SparkSession, sf_dir: str) -> int:
    """Adaptive sampling modulus: the smallest POWER OF TWO ≥
    D div target.  The power-of-two restriction makes the moduli
    NEST — ``hash % 2Q == 0`` implies ``hash % Q == 0`` — so the
    sample set is MONOTONE under corpus growth: when D grows and Q
    doubles, the new sample is a subset of the old one, which is what
    lets (a) a STREAMING maintainer keep only currently-sampled
    signatures and prune on Q changes (equivalence proof #29 — a
    floor-div Q like 5→6 would need docs it already discarded: the
    CUPED non-recoverability class), and (b) a growing lakehouse table
    re-sample by filtering the PRIOR sample instead of rescanning the
    corpus.  At the fixture SFs the value is identical to the old
    floor-div rule (1, 1, 2)."""
    from decisions_kinesis_spark.sources.tables import table_count

    return _pow2_ceil(
        max(1, table_count(spark, "documents", sf_dir)
            // _NGRAM_SAMPLE_TARGET)
    )


def dedup_ngram_jaccard_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXECUTABLE form of the blocked n-gram Jaccard's scale
    disposition: exact bitset-Jaccard verification on a DETERMINISTIC
    DOC-LEVEL hash sample, with Horvitz–Thompson scaling back to
    corpus-level estimates.

    The complete blocked verifier is quadratic in corpus size
    (measured: 4.07G same-band pairs at 100× — SCALE.md).  Sampling
    must therefore happen at the DOC axis, not the block axis: a
    whole-block sample keeps each included block's full population, so
    cost falls only linearly in the sampling rate and stays quadratic
    in D (this function's first design — caught by its own 100× smoke
    before it ever shipped).  Doc-level inclusion at rate 1/Q makes a
    pair survive at 1/Q², so verification cost is (D/Q)² and the
    ADAPTIVE modulus — the smallest POWER OF TWO ≥
    ``D div _NGRAM_SAMPLE_TARGET`` (see ``_ngram_sample_q``; the
    oracle computes the same integer formula in SQL) — holds the
    sampled population, and with it the quadratic budget, CONSTANT at
    any corpus size; the power-of-two restriction nests the moduli so
    the sample stays monotone under growth (streaming proof #29).

    Inclusion is the shared 60-bit md5 idiom on the doc id —
    deterministic, so both engines sample identical docs and the gate
    hash-matches; at gate SFs (D < 2·target) Q = 1 and the estimator
    degenerates to the full same-band verification, so the driver
    checks the complete arithmetic, not a thin sample.  HT estimates
    are ``est = observed · Q²`` (unbiased over the hash-uniformity
    assumption every deterministic sampler here makes —
    ``sample_weighted_poisson`` discipline); both sampled docs of a
    surviving pair are genuinely verified, so J ≥ 0.8 verdicts are
    EXACT — the estimator trades VARIANCE for cost where MinHash
    trades RECALL.  Same-band pairs only (the boundary-straddling
    adjacent-band minority is the complete verifier's concern).

    Scale: one scan-side hash filter, then the blocked verifier's
    topology over ~_NGRAM_SAMPLE_TARGET docs regardless of D.
    """
    q = _ngram_sample_q(spark, sf_dir)
    m = _ngram_sig_frame(spark, sf_dir).where(
        F.expr(f"{_BIGHASH.format(e='cast(doc_id as string)')} % {q} = 0")
    )
    m = materialize(m)
    pairs = _same_band_pairs(m)
    docs = m.groupBy("lang").agg(F.count("*").alias("n_docs_sampled"))
    stats = pairs.groupBy("lang").agg(
        F.count("*").alias("n_pairs_sampled"),
        F.sum((F.col("jac") >= 0.8).cast("bigint")).alias(
            "n_neardup_sampled"
        ),
    )
    return (
        docs.join(stats, "lang", "left")
        .select(
            "lang",
            F.lit(q).cast("bigint").alias("sample_q"),
            "n_docs_sampled",
            F.coalesce("n_pairs_sampled", F.lit(0)).alias("n_pairs_sampled"),
            F.coalesce("n_neardup_sampled", F.lit(0)).alias(
                "n_neardup_sampled"
            ),
            F.expr(f"coalesce(n_pairs_sampled, 0) * {q} * {q}").alias(
                "est_pairs"
            ),
            F.expr(f"coalesce(n_neardup_sampled, 0) * {q} * {q}").alias(
                "est_neardup"
            ),
        )
    )


def connected_components(
    spark: SparkSession, pairs: DataFrame, driver_max_edges: int = 1_000_000
) -> DataFrame:
    """Connected components over an arbitrary (doc_a, doc_b) pair frame:
    every node gets a cluster id = min node id reachable through edges —
    the canonical "pick one representative per duplicate cluster" step
    after ANY pair-detection strategy (MinHash LSH, SimHash hamming,
    embedding cosine...).

    ITERATIVE algorithm (driver-controlled label propagation to a
    fixpoint): each round takes labels = min(label of self, labels of
    neighbors) and then COMPRESSES pointers (label = min(label,
    label-of-label), i.e. pointer doubling), so propagation distance
    doubles per round and the fixpoint lands in O(log diameter) rounds
    — chain-shaped near-dup graphs with eccentricity far beyond the
    round cap still converge (2^20 hops at 20 rounds).  Each round is
    two shuffle joins over the materialized label frame — the standard
    large-scale pattern at 100 TB.  If the cap is ever hit without a
    fixpoint the function RAISES instead of returning partial labels.
    Oracle: DuckDB recursive CTE computing min-label reachability —
    same fixpoint, declaratively.
    """
    pairs = pairs.select("doc_a", "doc_b")
    # Adaptive strategy: the near-dup graph is far smaller than the
    # corpus.  Below the threshold, a driver-side union-find finishes in
    # microseconds (standard tail strategy for distributed CC); above
    # it, run distributed label propagation.  Same fixpoint either way.
    # The size probe and the edge fetch are ONE bounded action
    # (limit(threshold+1).collect() — CollectLimit stops pulling as
    # soon as the cap is exceeded), not a cache + count + collect
    # triple: the small branch — the common case, near-dup graphs are
    # corpus-sparse — runs the pair pipeline exactly once, and the
    # driver holds at most threshold+1 rows either way.  Known trade
    # (ADVICE r13): the ABOVE-threshold branch pays the pair pipeline
    # twice (probe, then cache+count) — accepted because near-dup
    # graphs are corpus-sparse by construction (LSH pairs pass a
    # jaccard>=0.5 verify), so the small branch is the operating
    # envelope; caching before the probe would charge every small
    # graph a cache write to speed up the rare giant one.
    head = pairs.limit(driver_max_edges + 1).collect()
    if len(head) <= driver_max_edges:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for r in head:
            ra, rb = find(r.doc_a), find(r.doc_b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = sorted((n, find(n)) for n in parent)
        return spark.createDataFrame(rows, "doc_id long, cluster long")
    del head
    # the distributed branch CACHES its three shared inputs (pairs,
    # edges, initial labels) rather than checkpointing them, so the
    # per-round edges ⋈ labels join keeps edges' repartition(n_part,
    # "doc_a") without an exchange (functions.parallel.cached); each
    # cache entry is released when its block exits
    with cached(pairs) as pairs:
        return _propagate_labels(spark, pairs, pairs.count())


def _propagate_labels(
    spark: SparkSession, pairs: DataFrame, edge_rows: int
) -> DataFrame:
    """Distributed branch of ``connected_components`` over the cached
    pair frame of ``edge_rows`` undirected edges."""
    # Size-derived partitioning: ~250k undirected edges (500k directed
    # rows) per partition, capped by the session's shuffle parallelism —
    # correct at 10k edges and at 10B edges alike (never a hardcoded
    # partition count).
    n_part = max(
        2,
        min(
            int(spark.conf.get("spark.sql.shuffle.partitions", "200")) * 4,
            (2 * edge_rows) // 500_000 + 1,
        ),
    )
    with cached(
        pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        ).repartition(n_part, "doc_a")  # co-locates the per-round join key
    ) as edges, cached(
        edges.select(F.col("doc_a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    ) as labels:
        # labels only ever DECREASE, so sum(label) strictly decreases iff any
        # label changed — convergence needs one cheap agg per round, not a
        # join+count.
        prev_sum = labels.agg(F.sum("label")).collect()[0][0]
        converged = False
        for _ in range(20):  # 2^20-hop reach via doubling; tiny graphs: 2-3
            neighbor_min = (
                edges.join(labels, edges.doc_a == labels.node)
                .groupBy(F.col("doc_b").alias("node2"))
                .agg(F.min("label").alias("nlabel"))
            )
            # localCheckpoint (eager) TRUNCATES LINEAGE each round: the
            # doubling self-join below puts hop's subtree in the plan twice,
            # so without truncation the analyzed plan doubles per round and
            # Catalyst analysis goes exponential (observed: single-core JVM
            # spin).  Old checkpoint RDDs are freed by the ContextCleaner
            # once the Python refs drop at the next loop iteration.
            hop = materialize(
                labels.join(neighbor_min, labels.node == F.col("node2"), "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                    ).alias("label"),
                )
            )
            # Pointer doubling: follow one more level through the label
            # table itself (label := min(label, label[label])).  Every label
            # value IS a node id (init = self id; updates = mins of node
            # ids), so the self-join is total; coalesce guards regardless.
            via = hop.select(
                F.col("node").alias("vnode"), F.col("label").alias("vlabel")
            )
            new_labels = materialize(
                hop.join(via, hop.label == F.col("vnode"), "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce(F.col("vlabel"), F.col("label"))
                    ).alias("label"),
                )
            )
            new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
            labels = new_labels
            if new_sum == prev_sum:
                converged = True
                break
            prev_sum = new_sum
    if not converged:
        raise RuntimeError(
            "connected_components: no fixpoint after 20 doubling rounds "
            "(graph reach 2^20 exceeded?) — refusing to return partial labels"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster"))


def dedup_components(
    spark: SparkSession, sf_dir: str, driver_max_edges: int = 1_000_000
) -> DataFrame:
    """Duplicate clusters over the MinHash-LSH verified pair graph
    (see connected_components for the algorithm)."""
    return connected_components(
        spark, dedup_minhash_lsh_pairs(spark, sf_dir), driver_max_edges
    )


def dedup_cluster_stats(
    spark: SparkSession, sf_dir: str, driver_max_edges: int = 1_000_000
) -> DataFrame:
    """Representative selection + reduction report per duplicate
    cluster — the step that turns CC labels into the dedup DECISION:
    ``keeper`` is the kept document (min doc_id, which by CC
    construction equals the cluster label), ``n_dropped`` the corpus
    reduction the cluster contributes.  Summing n_dropped over this
    frame is the headline "X% of the corpus was near-duplicate" number
    every dedup run reports.

    Scale: one map-side-combining aggregation over the components
    frame (cluster-id keyed, cluster-count cardinality) on top of the
    shared CC machinery.  The components frame comes through the
    session ``stage_cache`` (localCheckpoint'd on first use), so a
    session that builds this report repeatedly reuses the LSH+CC
    pipeline output instead of re-running it; a cache miss runs those
    jobs at DataFrame-construction time (see stage_cache module doc).
    """
    from decisions_kinesis_spark.operators import stage_cache

    comps = stage_cache.get_or_build(
        spark,
        "cluster_stats:components",
        f"{sf_dir}|{driver_max_edges}",
        lambda: materialize(dedup_components(spark, sf_dir, driver_max_edges)),
    )
    return (
        comps.groupBy("cluster")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper"),
        )
        .withColumn("n_dropped", F.col("n_docs") - 1)
    )


def dedup_quality_keeper(
    spark: SparkSession, sf_dir: str, driver_max_edges: int = 1_000_000
) -> DataFrame:
    """Quality-aware representative selection — the RefinedWeb/Dolma
    "keep the best copy" policy: instead of the arbitrary min-id
    keeper (``dedup_cluster_stats``), keep each near-dup cluster's
    member with the HIGHEST composite quality score
    (``textops.with_quality_signals``, the same signal the quality
    gate uses; ties → smallest doc_id).  Exact copies tie on quality
    and fall back to min-id; clusters with real textual differences
    keep the best-formatted member.

    Output per CLUSTERED document: (doc_id, cluster, quality, keep).
    Singletons (no near-dup pair) are implicitly kept and not listed —
    this frame is the dedup decision for clustered docs, like
    ``dedup_cluster_stats``.

    Scale: CC labels ride the session stage cache (shared with
    ``dedup_cluster_stats`` under the same key); quality is a
    scan-side expression; keeper selection is ONE map-side-combining
    ``max_by`` aggregation on cluster keys + an equi-join back — the
    ``dedup_exact`` shape, no window piling a hot cluster into a
    single partition.
    """
    from decisions_kinesis_spark.operators import stage_cache
    from decisions_kinesis_spark.operators.textops import with_quality_signals

    comps = stage_cache.get_or_build(
        spark,
        "cluster_stats:components",
        f"{sf_dir}|{driver_max_edges}",
        lambda: materialize(dedup_components(spark, sf_dir, driver_max_edges)),
    )
    corpus = _with_injected_dups(load_table(spark, "documents", sf_dir))
    quality = with_quality_signals(corpus).select("doc_id", "quality")
    # scored feeds the keeper argmax AND the final join — the replay
    # stays LAZY deliberately: both replays run inside ONE job and
    # overlap across cores, while an eager checkpoint is a sequential
    # barrier (measured r14, interleaved A/B ×3: ckpt 3.51/3.72/3.93
    # vs lazy 3.05/3.08/3.60 warm — ckpt loses ~0.4 s every round).
    scored = comps.join(quality, "doc_id")
    keepers = scored.groupBy("cluster").agg(
        F.max_by(
            "doc_id",
            F.struct(F.col("quality"), (-F.col("doc_id")).alias("nd")),
        ).alias("keeper")
    )
    return scored.join(keepers, "cluster").select(
        "doc_id",
        "cluster",
        "quality",
        (F.col("doc_id") == F.col("keeper")).alias("keep"),
    )


def split_group_aware(
    spark: SparkSession, sf_dir: str, driver_max_edges: int = 1_000_000
) -> DataFrame:
    """LEAKAGE-SAFE train/val split: hash the near-dup CLUSTER, not the
    document.  A per-doc hash split (``split_train_val``) puts two
    near-duplicates on opposite sides of the split ~18% of the time —
    the classic eval-contamination path (the val loss is measured on
    paraphrases of training docs).  Here every document's group id is
    its CC cluster label (singletons: own id), and the 90/10 md5 split
    keys on the GROUP, so whole clusters land in one split by
    construction.

    Output per (split, is_clustered): docs, distinct groups, and the
    id checksum that lets the oracle verify actual membership — same
    reporting contract as the split_* family.  Runs over the same
    injected-duplicates corpus as the rest of the dedup family.

    Scale: one left join of the corpus against the CC frame (doc_id
    co-partitioned), a scan-side md5 projection, and a
    map-side-combining 4-group aggregate — the CC machinery's scale
    story (banded LSH, no all-pairs) carries over unchanged.
    """
    docs = _with_injected_dups(
        load_table(spark, "documents", sf_dir)
    ).select("doc_id")
    comps = dedup_components(spark, sf_dir, driver_max_edges)
    g = docs.join(comps, "doc_id", "left").select(
        "doc_id",
        F.expr("coalesce(cluster, doc_id)").alias("group_id"),
        F.col("cluster").isNotNull().alias("is_clustered"),
    )
    h = (
        "cast(conv(substring(md5(cast(group_id as string)), 1, 15),"
        " 16, 10) as bigint)"
    )
    return (
        g.withColumn(
            "split",
            F.when(F.expr(f"{h} % 100") < 90, F.lit("train")).otherwise(
                F.lit("val")
            ),
        )
        .groupBy("split", "is_clustered")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("group_id").alias("n_groups"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


# cheap scan-shaped queries first, pair pipelines after, the iterative
def dedup_source_overlap_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CROSS-SOURCE duplication matrix — the governance report a
    corpus pipeline runs on top of near-dup detection: for every
    unordered source pair, how many verified near-dup pairs
    (``dedup_minhash_lsh_pairs``, exact-Jaccard ≥ 0.5) span it, with
    the min/max pair Jaccard.  Off-diagonal mass answers "which feeds
    copy which" (license leaks, mirror sites, syndication) — the
    decision input for source-level dedup and mixture weights, where
    doc-level pairs alone are too granular to act on.

    Injected-dup ids map back to their origin's source (the
    ``_with_injected_dups`` _DUP_OFFSET contract — the remap tests
    membership in the exact injected window, so a genuine document
    with a large doc_id is never touched), so the fixture's known
    duplicates land in the matrix deterministically.  min/max of the
    per-pair rounded Jaccard are order-free (unlike a float mean) —
    exact cross-engine.

    Scale: reuses the full LSH-verify topology (banded candidates,
    never all-pairs); the matrix reduce is |sources|²-bounded and the
    source map joins on the pair frame, which is near-dup-sized, not
    corpus-sized.
    """
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    src = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source"
    )
    lo, hi = _DUP_OFFSET, _DUP_OFFSET + _DUP_N
    base = pairs.select(
        F.expr(
            f"if(doc_a >= {lo} and doc_a < {hi},"
            f" doc_a - {_DUP_OFFSET}, doc_a)"
        ).alias("orig_a"),
        F.expr(
            f"if(doc_b >= {lo} and doc_b < {hi},"
            f" doc_b - {_DUP_OFFSET}, doc_b)"
        ).alias("orig_b"),
        "jaccard",
    )
    joined = (
        base.join(
            src.select(
                F.col("doc_id").alias("orig_a"),
                F.col("source").alias("sa"),
            ),
            "orig_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("orig_b"),
                F.col("source").alias("sb"),
            ),
            "orig_b",
        )
    )
    return (
        joined.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.min("jaccard").alias("min_jaccard"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


# components query (which contains the LSH pipeline) last
QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash_signatures": dedup_minhash_signatures,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard_blocked": dedup_ngram_jaccard_blocked,
    "dedup_ngram_jaccard_sampled": dedup_ngram_jaccard_sampled,
    "dedup_minhash_lsh_pairs": dedup_minhash_lsh_pairs,
    "dedup_minhash_estimate_calibration": dedup_minhash_estimate_calibration,
    "dedup_simhash_hamming_pairs": dedup_simhash_hamming_pairs,
    "dedup_components": dedup_components,
    "split_group_aware": split_group_aware,
    "dedup_cluster_stats": dedup_cluster_stats,
    "dedup_quality_keeper": dedup_quality_keeper,
    "dedup_containment_pairs": dedup_containment_pairs,
    "dedup_incremental_lsh": dedup_incremental_lsh,
    "dedup_source_overlap_matrix": dedup_source_overlap_matrix,
}

_DUCK_SHINGLE_CTE = f"""
        toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM corpus),
        sh AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM toks, LATERAL (
                SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
            ) s
        )
"""

#: Shared CTE chain producing `pairsel` = LSH-verified near-dup pairs
#: (used by both the pair query and the connected-components oracle).
_DUCK_LSH_CTES = f"""corpus AS ({_DUP_SQL_CORPUS}),
        {_DUCK_SHINGLE_CTE},
        hashed AS (SELECT doc_id, shingle, {_BASE40_DUCK} AS h40 FROM sh),
        seeds AS (SELECT unnest(generate_series(0, {_N_SEEDS - 1})) AS seed),
        sig AS (
            SELECT doc_id, seed,
                   min({_seeded("seed", "h40")}) AS minhash
            FROM hashed, seeds GROUP BY doc_id, seed
        ),
        bands AS (
            SELECT doc_id, (seed // 2) AS band,
                   string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS band_sig
            FROM sig GROUP BY doc_id, (seed // 2)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT c.doc_a, c.doc_b, count(*) AS n_inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b AND sa.shingle = sb.shingle
            GROUP BY c.doc_a, c.doc_b
        ),
        pairsel AS (
            SELECT i.doc_a, i.doc_b,
                   round(i.n_inter / (za.n_sh + zb.n_sh - i.n_inter), 4) AS jaccard
            FROM inter i
            JOIN sizes za ON za.doc_id = i.doc_a
            JOIN sizes zb ON zb.doc_id = i.doc_b
            WHERE round(i.n_inter / (za.n_sh + zb.n_sh - i.n_inter), 4) >= 0.5
        )"""

#: Shared simhash CTE chain → `simhash_t(doc_id, simhash)`.
_DUCK_SIMHASH_CTES = f"""corpus AS (SELECT doc_id, text FROM documents),
        toks AS (
            SELECT DISTINCT doc_id, unnest({_DUCK_TOKS}) AS token FROM corpus
        ),
        hashed AS (
            SELECT doc_id, {_DUCK_BIGHASH.format(e="token")} AS h FROM toks
        ),
        bits AS (
            SELECT doc_id, b.b AS b,
                   sum(CASE WHEN (h // (2::BIGINT ^ b.b)::BIGINT) % 2 = 1
                            THEN 1 ELSE -1 END) AS s
            FROM hashed, LATERAL (
                SELECT unnest(generate_series(0, 31)) AS b
            ) b
            GROUP BY doc_id, b.b
        ),
        simhash_t AS (
            SELECT doc_id,
                   sum(CASE WHEN s > 0 THEN (2::BIGINT ^ b)::BIGINT
                            ELSE 0 END)::BIGINT AS simhash
            FROM bits GROUP BY doc_id
        )"""

ORACLES = {
    "dedup_exact": f"""
        WITH corpus AS ({_DUP_SQL_CORPUS})
        SELECT doc_id, md5(text) AS fp,
               doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep
        FROM corpus
    """,
    "dedup_minhash_signatures": f"""
        WITH corpus AS (SELECT doc_id, text FROM documents),
        {_DUCK_SHINGLE_CTE},
        hashed AS (SELECT doc_id, {_BASE40_DUCK} AS h40 FROM sh),
        seeds AS (SELECT unnest(generate_series(0, {_N_SEEDS - 1})) AS seed)
        SELECT doc_id, seed,
               min({_seeded("seed", "h40")}) AS minhash
        FROM hashed, seeds
        GROUP BY doc_id, seed
    """,
    "dedup_minhash_lsh_pairs": f"""
        WITH {_DUCK_LSH_CTES}
        SELECT doc_a, doc_b, jaccard FROM pairsel
    """,
    "dedup_minhash_estimate_calibration": f"""
        WITH {_DUCK_LSH_CTES},
        agree AS (
            SELECT c.doc_a, c.doc_b,
                   count(*) FILTER (WHERE ga.minhash = gb.minhash)
                       AS n_agree
            FROM cand c
            JOIN sig ga ON ga.doc_id = c.doc_a
            JOIN sig gb ON gb.doc_id = c.doc_b AND ga.seed = gb.seed
            GROUP BY c.doc_a, c.doc_b
        ),
        calib AS (
            SELECT g.doc_a, g.doc_b, g.n_agree::BIGINT AS n_agree,
                   ((g.n_agree * 1000000) // {_N_SEEDS})::BIGINT
                       AS est_ppm,
                   ((coalesce(i.n_inter, 0) * 1000000)
                    // (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0))
                   )::BIGINT AS exact_ppm
            FROM agree g
            LEFT JOIN inter i ON i.doc_a = g.doc_a AND i.doc_b = g.doc_b
            JOIN sizes za ON za.doc_id = g.doc_a
            JOIN sizes zb ON zb.doc_id = g.doc_b
        )
        SELECT doc_a, doc_b, n_agree, est_ppm, exact_ppm,
               (est_ppm - exact_ppm)::BIGINT AS err_ppm
        FROM calib
    """,
    "dedup_components": f"""
        WITH RECURSIVE {_DUCK_LSH_CTES},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairsel
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM pairsel
        ),
        reach(node, label) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b
        )
        SELECT node AS doc_id, min(label) AS cluster
        FROM reach GROUP BY node
    """,
    "split_group_aware": f"""
        WITH RECURSIVE {_DUCK_LSH_CTES},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairsel
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM pairsel
        ),
        reach(node, label) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b
        ),
        comp AS (
            SELECT node AS doc_id, min(label) AS cluster
            FROM reach GROUP BY node
        ),
        aug AS (
            SELECT doc_id FROM documents
            UNION ALL
            SELECT doc_id + {_DUP_OFFSET} FROM documents
            WHERE doc_id < {_DUP_N}
        ),
        g AS (
            SELECT a.doc_id,
                   coalesce(c.cluster, a.doc_id) AS group_id,
                   c.cluster IS NOT NULL AS is_clustered
            FROM aug a LEFT JOIN comp c ON c.doc_id = a.doc_id
        )
        SELECT CASE WHEN ('0x' || substr(md5(group_id::VARCHAR), 1, 15))
                         ::BIGINT % 100 < 90
                    THEN 'train' ELSE 'val' END AS split,
               is_clustered,
               count(*)::BIGINT AS n_docs,
               count(DISTINCT group_id)::BIGINT AS n_groups,
               sum(doc_id)::BIGINT AS id_checksum
        FROM g GROUP BY 1, 2
    """,
    "dedup_cluster_stats": f"""
        WITH RECURSIVE {_DUCK_LSH_CTES},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairsel
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM pairsel
        ),
        reach(node, label) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b
        ),
        comp AS (
            SELECT node AS doc_id, min(label) AS cluster
            FROM reach GROUP BY node
        )
        SELECT cluster, count(*)::BIGINT AS n_docs,
               min(doc_id) AS keeper,
               (count(*) - 1)::BIGINT AS n_dropped
        FROM comp GROUP BY cluster
    """,
    "dedup_incremental_lsh": f"""
        WITH corpus_all AS (SELECT doc_id, text FROM documents),
        corp AS (SELECT doc_id, text FROM corpus_all WHERE doc_id % 10 <> 0),
        batch AS (
            SELECT doc_id, text FROM corpus_all WHERE doc_id % 10 = 0
            UNION ALL
            SELECT doc_id + 200000 AS doc_id, text FROM corp WHERE doc_id < 20
        ),
        corpus AS (
            SELECT doc_id, text, 0 AS is_new FROM corp
            UNION ALL
            SELECT doc_id, text, 1 AS is_new FROM batch
        ),
        {_DUCK_SHINGLE_CTE},
        side AS (SELECT doc_id, is_new FROM corpus),
        hashed AS (SELECT doc_id, shingle, {_BASE40_DUCK} AS h40 FROM sh),
        seeds AS (SELECT unnest(generate_series(0, {_N_SEEDS - 1})) AS seed),
        sig AS (
            SELECT doc_id, seed,
                   min({_seeded("seed", "h40")}) AS minhash
            FROM hashed, seeds GROUP BY doc_id, seed
        ),
        bands AS (
            SELECT doc_id, (seed // 2) AS band,
                   string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS band_sig
            FROM sig GROUP BY doc_id, (seed // 2)
        ),
        cand AS (
            SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
            FROM bands n
            JOIN side ns ON ns.doc_id = n.doc_id AND ns.is_new = 1
            JOIN bands c ON n.band = c.band AND n.band_sig = c.band_sig
            JOIN side cs ON cs.doc_id = c.doc_id AND cs.is_new = 0
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT c.new_id, c.corpus_id, count(*) AS n_inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.new_id
            JOIN sh sb ON sb.doc_id = c.corpus_id AND sa.shingle = sb.shingle
            GROUP BY c.new_id, c.corpus_id
        ),
        scoredm AS (
            SELECT i.new_id, i.corpus_id,
                   round(i.n_inter / (za.n_sh + zb.n_sh - i.n_inter), 4) AS jaccard
            FROM inter i
            JOIN sizes za ON za.doc_id = i.new_id
            JOIN sizes zb ON zb.doc_id = i.corpus_id
            WHERE round(i.n_inter / (za.n_sh + zb.n_sh - i.n_inter), 4) >= 0.5
        ),
        agg AS (
            SELECT new_id, count(*) AS n_matches,
                   max_by(corpus_id, floor(jaccard * 1e4 + 0.5)::BIGINT
                          * 1099511627776 - corpus_id) AS best_match,
                   max(jaccard) AS best_jaccard
            FROM scoredm GROUP BY new_id
        )
        SELECT b.doc_id,
               coalesce(a.n_matches, 0) AS n_matches,
               a.best_match, a.best_jaccard
        FROM batch b LEFT JOIN agg a ON a.new_id = b.doc_id
    """,
    "dedup_simhash": f"""
        WITH {_DUCK_SIMHASH_CTES}
        SELECT doc_id, simhash FROM simhash_t
    """,
    "dedup_simhash_hamming_pairs": f"""
        WITH {_DUCK_SIMHASH_CTES},
        blocks AS (
            SELECT doc_id, simhash, b.blk AS blk,
                   (simhash // (1::BIGINT << (b.blk * 11))) % 2048 AS blk_val
            FROM simhash_t, LATERAL (
                SELECT unnest(generate_series(0, 2)) AS blk
            ) b
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS sh_a, b.simhash AS sh_b
            FROM blocks a JOIN blocks b
              ON a.blk = b.blk AND a.blk_val = b.blk_val
             AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b))::BIGINT AS hamming
        FROM cand
        WHERE bit_count(xor(sh_a, sh_b)) <= 2
    """,
    "dedup_ngram_jaccard_blocked": f"""
        WITH t AS (
            SELECT doc_id, lang,
                   list_distinct(list_transform(list_distinct({_DUCK_TOKS}),
                       x -> ('0x' || substr(md5(x), 1, 15))::BIGINT
                            % {_SIG_BITS})) AS idxs
            FROM documents
        ),
        banded AS (
            SELECT doc_id, lang, idxs, {_BAND_DUCK} AS band
            FROM t WHERE len(idxs) > 0
        ),
        pairs AS (
            -- popcount(and)/popcount(or) over the bit signatures equals
            -- intersect/union over the set-bit index sets; same-band
            -- (doc_id<) plus adjacent-band (band order) pairs, disjoint
            SELECT a.lang,
                   round(len(list_intersect(a.idxs, b.idxs))::DOUBLE /
                         len(list_distinct(list_concat(a.idxs, b.idxs))), 4)
                       AS jac
            FROM banded a JOIN banded b
              ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
            UNION ALL
            SELECT a.lang,
                   round(len(list_intersect(a.idxs, b.idxs))::DOUBLE /
                         len(list_distinct(list_concat(a.idxs, b.idxs))), 4)
                       AS jac
            FROM banded a JOIN banded b
              ON a.lang = b.lang AND a.band + 1 = b.band
        )
        SELECT lang, count(*) AS n_pairs,
               sum((jac >= 0.8)::BIGINT)::BIGINT AS n_neardup,
               round(avg(jac), 4) AS avg_jac
        FROM pairs GROUP BY lang
    """,
    # hash-sampled exact verification: identical signature/band CTEs,
    # deterministic DOC-level inclusion via the shared 60-bit md5 idiom
    # at the SAME adaptive modulus (smallest power of two >=
    # D div target, computed in SQL below), same-band pairs only,
    # Horvitz-Thompson x Q^2 estimates
    "dedup_ngram_jaccard_sampled": f"""
        WITH q0 AS (
            SELECT greatest(1, count(*) // {_NGRAM_SAMPLE_TARGET}) AS q0
            FROM documents
        ),
        -- power-of-two ceiling of q0, integer-exact (no float log2):
        -- nested moduli keep the sample monotone under corpus growth.
        -- FAIL CLOSED past the table (q0 > 2^40 ⇔ D > ~2.2e15 docs):
        -- a NULL min would silently sample nothing — error() instead.
        qv AS (
            SELECT CASE WHEN min(p2) IS NULL
                        THEN error('pow2 table exhausted: extend range')
                        ELSE min(p2) END AS q
            FROM (SELECT unnest({[1 << i for i in range(41)]}) AS p2), q0
            WHERE p2 >= q0
        ),
        t AS (
            SELECT doc_id, lang,
                   list_distinct(list_transform(list_distinct({_DUCK_TOKS}),
                       x -> ('0x' || substr(md5(x), 1, 15))::BIGINT
                            % {_SIG_BITS})) AS idxs
            FROM documents
            WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                  % (SELECT q FROM qv) = 0
        ),
        banded AS (
            SELECT doc_id, lang, idxs, {_BAND_DUCK} AS band
            FROM t WHERE len(idxs) > 0
        ),
        pairs AS (
            SELECT a.lang,
                   round(len(list_intersect(a.idxs, b.idxs))::DOUBLE /
                         len(list_distinct(list_concat(a.idxs, b.idxs))), 4)
                       AS jac
            FROM banded a JOIN banded b
              ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
        ),
        docs AS (
            SELECT lang, count(*)::BIGINT AS n_docs_sampled
            FROM banded GROUP BY lang
        ),
        stats AS (
            SELECT lang, count(*)::BIGINT AS n_pairs_sampled,
                   sum((jac >= 0.8)::BIGINT)::BIGINT AS n_neardup_sampled
            FROM pairs GROUP BY lang
        )
        SELECT d.lang, (SELECT q FROM qv)::BIGINT AS sample_q,
               d.n_docs_sampled,
               coalesce(s.n_pairs_sampled, 0)::BIGINT AS n_pairs_sampled,
               coalesce(s.n_neardup_sampled, 0)::BIGINT AS n_neardup_sampled,
               (coalesce(s.n_pairs_sampled, 0) * (SELECT q FROM qv)
                * (SELECT q FROM qv))::BIGINT AS est_pairs,
               (coalesce(s.n_neardup_sampled, 0) * (SELECT q FROM qv)
                * (SELECT q FROM qv))::BIGINT AS est_neardup
        FROM docs d LEFT JOIN stats s ON s.lang = d.lang
    """,
}

# Quality-aware keeper: composes the CC oracle with the quality-score
# formula (text_quality_score's definition) over the injected-dup
# corpus; keeper = per-cluster argmax(quality, -doc_id).
ORACLES["dedup_quality_keeper"] = f"""
    WITH RECURSIVE {_DUCK_LSH_CTES},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairsel
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairsel
    ),
    reach(node, label) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b
    ),
    comps AS (SELECT node AS doc_id, min(label) AS cluster
              FROM reach GROUP BY node),
    q AS (
        SELECT doc_id,
               {_DUCK_QUALITY} AS quality
        FROM (
            SELECT doc_id,
                   len(list_filter(toks, x -> x IN ({_STOP_SQL})))::DOUBLE
                       / len(toks)::DOUBLE AS stop_ratio,
                   length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE
                       / length(text)::DOUBLE AS punct_ratio,
                   len(toks)::DOUBLE AS n_tok
            FROM (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM corpus)
        )
    ),
    scored AS (
        SELECT c.doc_id, c.cluster, q.quality
        FROM comps c JOIN q USING (doc_id)
    ),
    keepers AS (
        SELECT cluster, doc_id AS keeper FROM (
            SELECT cluster, doc_id,
                   row_number() OVER (PARTITION BY cluster
                                      ORDER BY quality DESC, doc_id ASC) AS rk
            FROM scored)
        WHERE rk = 1
    )
    SELECT s.doc_id, s.cluster, s.quality, s.doc_id = k.keeper AS keep
    FROM scored s JOIN keepers k USING (cluster)
"""

# Containment pairs: replays the banded-MinHash chain over the
# half-doc-augmented corpus with both symmetric and asymmetric metrics.
ORACLES["dedup_containment_pairs"] = f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 300000 AS doc_id,
               array_to_string(list_slice(t, 1,
                   greatest(len(t) // 2, 1)), ' ') AS text
        FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
              WHERE doc_id < 20)
    ),
    {_DUCK_SHINGLE_CTE},
    hashed AS (SELECT doc_id, shingle, {_BASE40_DUCK} AS h40 FROM sh),
    seeds AS (SELECT unnest(generate_series(0, {_N_SEEDS - 1})) AS seed),
    sig AS (
        SELECT doc_id, seed, min({_seeded("seed", "h40")}) AS minhash
        FROM hashed, seeds GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, (seed // 2) AS band,
               string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS band_sig
        FROM sig GROUP BY doc_id, (seed // 2)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b AND sa.shingle = sb.shingle
        GROUP BY c.doc_a, c.doc_b
    ),
    m AS (
        SELECT i.doc_a, i.doc_b, i.n_inter,
               round(i.n_inter / (za.n_sh + zb.n_sh - i.n_inter), 4)
                   AS jaccard,
               round(i.n_inter / least(za.n_sh, zb.n_sh), 4) AS containment
        FROM inter i
        JOIN sizes za ON za.doc_id = i.doc_a
        JOIN sizes zb ON zb.doc_id = i.doc_b
    )
    SELECT doc_a, doc_b, n_inter, jaccard, containment,
           (containment >= {_CONTAIN_T} AND jaccard < 0.8) AS partial_dup
    FROM m WHERE containment >= 0.5
"""

# composes the pairs oracle verbatim (nested WITH is valid DuckDB), so
# the matrix can never drift from the pair semantics it reports on
ORACLES["dedup_source_overlap_matrix"] = f"""
    WITH pr AS ({ORACLES["dedup_minhash_lsh_pairs"]}),
    srcmap AS (SELECT doc_id, source FROM documents),
    base AS (
        SELECT CASE WHEN doc_a >= {_DUP_OFFSET}
                     AND doc_a < {_DUP_OFFSET + _DUP_N}
                    THEN doc_a - {_DUP_OFFSET}
                    ELSE doc_a END AS orig_a,
               CASE WHEN doc_b >= {_DUP_OFFSET}
                     AND doc_b < {_DUP_OFFSET + _DUP_N}
                    THEN doc_b - {_DUP_OFFSET}
                    ELSE doc_b END AS orig_b,
               jaccard
        FROM pr
    ),
    joined AS (
        SELECT least(sa.source, sb.source) AS source_a,
               greatest(sa.source, sb.source) AS source_b,
               b.jaccard
        FROM base b
        JOIN srcmap sa ON sa.doc_id = b.orig_a
        JOIN srcmap sb ON sb.doc_id = b.orig_b
    )
    SELECT source_a, source_b, count(*)::BIGINT AS n_pairs,
           min(jaccard) AS min_jaccard,
           max(jaccard) AS max_jaccard
    FROM joined GROUP BY 1, 2
"""
