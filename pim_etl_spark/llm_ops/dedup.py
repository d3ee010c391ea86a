"""Deduplication operators over the ``documents`` table (SURVEY §2.10).

Exact dedup shuffles only a 32-byte hash + doc_id (never the text);
near-dup candidates come from MinHash banding so the pairwise Jaccard
is computed only inside buckets — the standard shape that scales to
100 TB because no full cross-join ever materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pim_etl_spark.catalog import query
from pim_etl_spark.operators.graph import min_label_components
from pim_etl_spark.sources import load_table
from pim_etl_spark.tuning import fan_out, mark_wide, sorted_output

# Normalization shared by all dedup flavors: lowercase + collapse
# whitespace, so trivially-different copies hash identically.
def _norm_text(c):
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def _tokens(c):
    return F.split(_norm_text(c), " ")


@query(
    "exact_dedup_docs",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS text_hash,
           min(doc_id) AS keeper_doc_id,
           count(*)    AS n_copies
    FROM documents
    GROUP BY 1
    ORDER BY text_hash
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized text, keep min doc_id.

    Only (hash, doc_id) crosses the shuffle — at 100 TB the text stays
    columnar in the scan and is never exchanged.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(_norm_text(F.col("text"))).alias("text_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("text_hash")
    )


@query(
    "ngram_jaccard_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.tok, b.tok))), 4) AS jaccard
    FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
    ORDER BY doc_a
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard similarity between adjacent doc pairs —
    the verification kernel used inside near-dup buckets (SURVEY §2.10).
    Computed with array_intersect/array_union higher-order builtins;
    linear in pairs, no UDF.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.array_distinct(_tokens(F.col("text"))).alias("tok"))
    a = toks.alias("a")
    b = toks.select((F.col("doc_id") - 1).alias("join_id"), F.col("doc_id").alias("doc_b"), F.col("tok").alias("tok_b"))
    jac = F.round(
        F.size(F.array_intersect(F.col("a.tok"), F.col("tok_b"))).cast("double")
        / F.size(F.array_union(F.col("a.tok"), F.col("tok_b"))),
        4,
    )
    return (
        a.join(b, F.col("a.doc_id") == F.col("join_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("doc_b"), jac.alias("jaccard"))
        .orderBy("doc_a")
    )


# --- MinHash + LSH near-duplicate detection -------------------------------
#
# Round-5 oracle upgrade (VERDICT r4 #1): these entries were rows-only
# because the MinHash/SimHash SEEDS are engine-specific — but the
# *semantics* (which pairs are near-duplicates) are not. The oracles
# below recompute the exact shingle-Jaccard truth set in DuckDB
# (all-pairs at the gate's sf0.01 — bounded) and pin the engine's
# LSH-discovered, exactly-verified output against it; hashes stay
# engine-side, results are hash-gated.

# 48 bands x 3 rows: the S-curve midpoint (1/b)^(1/r) = 0.275 sits
# BELOW the verify threshold (J >= 0.5), so per-pair catch probability
# at the threshold is 1-(1-0.5^3)^48 = 0.9984 and >= 0.99998 by
# J = 0.6. The previous 8x4 scheme had its midpoint at 0.59 — ABOVE
# the threshold — so pairs in the marginal band [0.5, ~0.8) were
# caught with probability as low as 0.40; every tested corpus had
# happened to concentrate its pair mass at J >= 0.85, and the round-12
# scratch-sf1 sweep (the first corpus with organic marginal pairs: 61
# in [0.5, 0.6), 143 in [0.6, 0.7)) measured exactly the predicted
# ~70 misses out of 2600 truth pairs. Candidate-volume cost of the
# steeper curve, MEASURED on the saturated-vocabulary corpus (the
# adversarial case — 116M background pairs share a shingle at
# J < 0.1): expected background candidates 8.1k vs 2.6k truth pairs
# at scratch sf1 — still O(truth), not O(n²), because r=3 suppresses
# background collisions by J³ (an r=2 scheme measures 192k). All
# numbers: SCALE.md "Banding vs verify threshold".
N_HASHES = 144
N_BANDS = 48


def _shingles(c, k: int = 3):
    """3-token shingles via shifted-array zip: tok[i] ⊕ tok[i+1] ⊕
    tok[i+2]. Built from THREE whole-array slices, not a slice per
    position — a per-index ``slice(toks, i, k)`` lambda makes Catalyst
    (ProjectCollapse) re-evaluate the token-split expression for every
    shingle, turning the build O(tokens²) per document."""
    assert k == 3, "shifted-zip shingling is specialized to k=3"
    toks = _tokens(c)
    n = F.size(toks)
    z = F.arrays_zip(
        toks.alias("t0"),
        F.slice(toks, 2, n).alias("t1"),
        F.slice(toks, 3, n).alias("t2"),
    )
    full = F.filter(z, lambda x: x["t2"].isNotNull())
    return F.array_distinct(
        F.when(n < k, F.array(F.concat_ws(" ", toks)))  # short doc → one shingle
        .otherwise(F.transform(full, lambda x: F.concat_ws(" ", x["t0"], x["t1"], x["t2"])))
    )


def _hashed_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, sb: array<long>) — each doc's distinct shingle set,
    reduced to xxhash64 base values in the JVM (string hashing stays
    where UTF-8 semantics are authoritative). Base-hash collisions
    conflate two shingles with probability ~2⁻⁶⁴ — negligible against
    the banding's own error terms. ``fan_out`` widens the
    single-row-group local scan so the per-doc shingle build
    parallelizes (no-op at production scale, see tuning.fan_out)."""
    return fan_out(docs, "doc_id").select(
        "doc_id", F.transform(_shingles(F.col("text")), lambda s: F.xxhash64(s)).alias("sb")
    )


def _sig_kernel(n_hashes: int):
    """mapInPandas kernel: one complete (doc_id, h0..h{n-1}) MinHash
    signature row per input (doc_id, sb) row, computed in one
    vectorized numpy pass (guide §4.2). Coordinate values are
    bit-identical to the JVM expression ``min(xxhash64(lit(i),
    sbase))`` — the xxh64_np kernels are pinned against the live
    expressions by tests — so signatures, band hashes and the LSH
    candidate set are unchanged. ``sb`` arrays are non-empty by
    construction (_shingles emits >= 1 shingle for every doc,
    including empty text), which reduceat relies on."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        from pim_etl_spark.llm_ops.xxh64_np import coordinate_seeds, hash_long

        seeds = coordinate_seeds(n_hashes)
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            arrs = pdf["sb"].to_numpy()
            lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=m)
            flat = np.ascontiguousarray(np.concatenate(arrs), dtype=np.int64).view(np.uint64)
            starts = np.zeros(m, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            out = {"doc_id": pdf["doc_id"].to_numpy()}
            for i in range(n_hashes):
                h = hash_long(flat, seeds[i])
                # min in the SIGNED domain — Spark's min over longs is
                # signed, and a negative hash is huge as uint64
                out[f"h{i}"] = np.minimum.reduceat(h.view(np.int64), starts)
            yield pd.DataFrame(out)

    return fn


def _banded_kernel(n_bands: int, n_hashes: int):
    """mapInPandas kernel fusing signature + banding: (doc_id, band,
    band_hash) — ``n_bands`` rows per input doc — without the
    144-column signature frame ever existing in the plan (its py4j
    construction, analysis and band-explode were measured driver cost
    per LSH entry). Per band b the state folds exactly like the JVM
    ``xxhash64(h_{3b}, h_{3b+1}, h_{3b+2})``: seed 42, then one
    hashLong per coordinate minimum."""
    rows_per_band = n_hashes // n_bands

    def fn(batches):
        import numpy as np
        import pandas as pd

        from pim_etl_spark.llm_ops.xxh64_np import SPARK_SEED, coordinate_seeds, hash_long

        seeds = coordinate_seeds(n_hashes)
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            arrs = pdf["sb"].to_numpy()
            lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=m)
            flat = np.ascontiguousarray(np.concatenate(arrs), dtype=np.int64).view(np.uint64)
            starts = np.zeros(m, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            bh = np.empty((m, n_bands), dtype=np.uint64)
            for b in range(n_bands):
                h = np.full(m, SPARK_SEED, dtype=np.uint64)
                for r in range(rows_per_band):
                    # min in the SIGNED domain (Spark's long min), then
                    # back to the uint64 bit pattern for the band fold
                    coord = np.minimum.reduceat(
                        hash_long(flat, seeds[b * rows_per_band + r]).view(np.int64),
                        starts,
                    ).view(np.uint64)
                    h = hash_long(coord, h)
                bh[:, b] = h
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), n_bands),
                    "band": np.tile(np.arange(n_bands, dtype=np.int32), m),
                    "band_hash": bh.reshape(-1).view(np.int64),
                }
            )

    return fn


def minhash_signatures(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """Per-doc MinHash signature over 3-token shingles.

    r13 shape (guide §4.2, VERDICT r12 next-round #5): the per-doc
    (doc_id, array<xxhash64(shingle)>) rows feed ONE vectorized numpy
    mapInPandas stage that emits complete signature rows — replacing
    the previous explode → 145-column min-aggregate, whose dominant
    cost was never the hash arithmetic (~38M hashLongs at sf0.1) but
    the 145-field plan itself: py4j construction of 144 agg
    expressions, catalyst analysis, a janino compile near the codegen
    field cap, and a doc_id exchange — all per entry, several times
    per LSH entry. The numpy stage needs no shuffle at all (each input
    row is one whole doc), and per-batch memory is one (n_shingles,)
    hash column at a time.

    Values are bit-identical to the old aggregate (same base-hash →
    per-coordinate xxhash64 derivation, reproduced exactly by
    xxh64_np; pinned by tests/test_llm_ops.py), so band
    hashes and the candidate set are unchanged. Deterministic: xxhash64
    is a fixed algorithm, coordinate indices are literal.
    """
    id_t = docs.schema["doc_id"].dataType.simpleString()
    schema = f"doc_id {id_t}, " + ", ".join(f"h{i} bigint" for i in range(n_hashes))
    return _hashed_shingles(docs).mapInPandas(_sig_kernel(n_hashes), schema=schema)


def band_signatures(
    signatures: DataFrame, n_bands: int = N_BANDS, n_hashes: int = N_HASHES
) -> DataFrame:
    """(doc_id, band, band_hash) — one row per band, the LSH bucket
    key. Shared by the self-join dedup path and the cross-corpus
    decontamination join (both sides must band IDENTICALLY or bucket
    collisions are meaningless)."""
    rows_per_band = n_hashes // n_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]).alias(
                    "band_hash"
                ),
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash")
    )


def _pairs_from_bands(banded: DataFrame) -> DataFrame:
    """Distinct ordered doc pairs sharing any (band, band_hash) bucket
    — tiny groups, never a full cross-corpus join."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def lsh_candidate_pairs(signatures: DataFrame, n_bands: int = N_BANDS, n_hashes: int = N_HASHES) -> DataFrame:
    """Band the signature, bucket-join docs sharing any band hash.

    The self-join happens per (band, band_hash) bucket — tiny groups —
    never across the full corpus.
    """
    return _pairs_from_bands(band_signatures(signatures, n_bands, n_hashes))


# DuckDB twin of `_shingles` + shingle-set Jaccard: normalize, split,
# 3-token shingles (short doc → the whole text as one shingle),
# distinct. Shared by every near-dup oracle below.
_SHINGLE_CTE = """
    toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(range(1, len(t) - 1),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                  END) AS s
      FROM toks
    )
"""

# Exact truth set: every pair at shingle-Jaccard >= 0.5, integer-exact
# threshold test (2*|∩| >= |∪| — no float boundary), value rounded for
# output only. Formulated as an INVERTED-INDEX join (explode shingles,
# equi-join on the shingle, count shared per pair — |∩| exactly, since
# the sets are distinct; |∪| = |a|+|b|-|∩|) instead of the literal
# all-pairs list_intersect cross join: mathematically identical (any
# J >= 0.5 pair shares ≥1 shingle, so no qualifying pair is missed;
# verified row-identical at sf0.001/sf0.01), but O(Σ df²) ≈ 2.8M rows
# at sf0.1 instead of O(n²·|s|) — 0.13 s vs 10 s at sf0.01, 1.7 s at
# sf0.1 where the old form ground for minutes (round-11 VERDICT #1:
# this family's oracles must be sweepable at 10× the gate scale).
_TRUTH_PAIRS_CTE = f"""
    {_SHINGLE_CTE},
    sz AS (SELECT doc_id, len(s) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    ov AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b,
             round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
      FROM ov
      JOIN sz sa ON sa.doc_id = ov.doc_a
      JOIN sz sb ON sb.doc_id = ov.doc_b
      WHERE 2 * i >= sa.n + sb.n - i
    )
"""


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, distinct 3-token shingle set) — the similarity unit for
    every near-dup operator (signatures hash these; verification
    intersects them). ``fan_out`` parallelizes the per-doc shingle
    build past the single-row-group local scan (no-op at scale)."""
    return fan_out(docs, "doc_id").select("doc_id", _shingles(F.col("text")).alias("s"))


def verified_neardup_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs: MinHash-LSH candidate discovery + EXACT
    shingle-Jaccard verification of only the collided pairs
    (2*|∩| >= |∪| — integer-exact at the 0.5 boundary).

    Verification uses the same unit the signatures hash (shingle
    sets), so LSH collision probability and the verify threshold live
    on the same Jaccard scale — verifying with token sets instead
    (pre-round-5 behavior) saturates on small vocabularies where
    nearly all docs share most TOKENS while sharing no 3-gram runs.

    Scale shape: candidates come from banded signatures (bucket join,
    O(collisions)); exact verification never leaves the candidate set.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    # NOTE (r12): caching the shingle frame to share it across the
    # signature and verify branches was tried and REGRESSED 10-40% at
    # sf0.1 — the columnar (de)serialization of array<string> rows in
    # and out of the SQL cache costs more than re-running the fused
    # scan->shingle pipeline per consumer. Left uncached deliberately.
    docs = fan_out(docs, "doc_id")
    sh = shingle_sets(docs)
    pairs = _pairs_from_bands(banded_signatures(docs))
    return (
        pairs.join(sh.withColumnsRenamed({"doc_id": "doc_a", "s": "sh_a"}), "doc_a")
        .join(sh.withColumnsRenamed({"doc_id": "doc_b", "s": "sh_b"}), "doc_b")
        .withColumn("__i", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("__u", F.size(F.array_union("sh_a", "sh_b")))
        .filter(F.col("__i") * 2 >= F.col("__u"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("__i").cast("double") / F.col("__u"), 4).alias("jaccard"),
        )
    )


@query(
    "minhash_lsh_candidates",
    oracle=f"""
    -- exact all-pairs shingle-Jaccard truth set; the engine must find
    -- EXACTLY these pairs via banded MinHash signatures + exact
    -- verification of collisions only (a missed band, a wrong shingle
    -- window, or a verify-threshold drift all hash-mismatch)
    WITH {_TRUTH_PAIRS_CTE}
    SELECT doc_a, doc_b, jaccard FROM truth ORDER BY doc_a, doc_b
    """,
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact verified shingle-Jaccard,
    hash-gated against the DuckDB all-pairs truth set (VERDICT r4 #1:
    the hashes stay engine-side; the RESULT is pinned exactly).

    At 48 bands × 3 rows the per-pair catch probability is
    1-(1-j³)⁴⁸: 0.9984 at the j = 0.5 verify threshold and >= 0.99998
    from j = 0.6 up — the S-curve midpoint (0.275) sits below the
    threshold, so the MARGINAL band [0.5, 0.8) is caught reliably,
    not just the planted j >= 0.89 mass (the round-12 scratch-sf1
    sweep caught the old 8×4 scheme missing ~70 of 2600 truth pairs
    there; see the N_BANDS comment). The oracle proves recall is
    exactly 1 on every tested corpus, and precision is 1 by
    construction (every emitted pair is exactly verified).
    """
    docs = load_table(spark, sf_dir, "documents")
    return sorted_output(verified_neardup_pairs(docs), "doc_a", "doc_b")


# --- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 64


def _simhash_kernel():
    """mapInPandas kernel: (doc_id, simhash) per input (doc_id, sb)
    row. Per bit b, the vote is the count of feature hashes with bit b
    set; the bit lands in the fingerprint when votes*2 >= n_features —
    exactly the old JVM fold (getbit on a signed long reads the same
    bit pattern these unsigned shifts do, and the MIN_LONG bit-63
    weight is just the uint64 bit before the int64 reinterpret)."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            arrs = pdf["sb"].to_numpy()
            lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=m)
            flat = np.ascontiguousarray(np.concatenate(arrs), dtype=np.int64).view(np.uint64)
            starts = np.zeros(m, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            acc = np.zeros(m, dtype=np.uint64)
            one = np.uint64(1)
            for b in range(SIMHASH_BITS):
                ones = (flat >> np.uint64(b)) & one
                votes = np.add.reduceat(ones.view(np.int64), starts)
                acc |= (votes * 2 >= lens).astype(np.uint64) << np.uint64(b)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "simhash": acc.view(np.int64)}
            )

    return fn


def simhash(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per doc: per-SHINGLE xxhash64, per-bit majority
    vote (the standard document fingerprint — features are the same
    3-token shingles MinHash signs, so hamming distance tracks
    shingle-Jaccard; round-5 change from token features, which
    degenerate on small vocabularies where unrelated docs share whole
    token SETS and collapse to hamming 0).

    r13 shape (guide §4.2): the previous single-pass JVM fold — an
    ``aggregate`` whose lambda zips a 64-slot vote array per feature —
    is interpreted per element (64 × |shingles| lambda evaluations per
    doc, the hottest per-row expression in the family). The same fold
    now runs as one vectorized numpy pass over the per-doc hash arrays
    (values pinned identical by tests/test_llm_ops.py); the
    JVM still computes the per-shingle xxhash64 base values.
    """
    id_t = docs.schema["doc_id"].dataType.simpleString()
    return _hashed_shingles(docs).mapInPandas(
        _simhash_kernel(), schema=f"doc_id {id_t}, simhash bigint"
    )


def dedup_corpus(docs: DataFrame, jaccard_threshold: float = 0.8) -> DataFrame:
    """Corpus-level dedup: drop exact duplicates (normalized-hash
    groupBy, keep min doc_id) then near-duplicates (MinHash-LSH
    candidates verified by Jaccard; the higher doc_id of each
    confirmed pair is dropped — greedy, deterministic).

    Returns the surviving documents. At 100 TB both stages shuffle
    only ids+hashes; the text never leaves the scan except inside
    LSH buckets.
    """
    docs = fan_out(docs, "doc_id")
    keeper = (
        docs.groupBy(F.md5(_norm_text(F.col("text"))).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    exact_kept = mark_wide(docs.join(keeper, "doc_id", "left_semi"))
    pairs = _pairs_from_bands(banded_signatures(exact_kept))
    sh = shingle_sets(exact_kept)
    confirmed = (
        pairs.join(sh.withColumnsRenamed({"doc_id": "doc_a", "s": "sh_a"}), "doc_a")
        .join(sh.withColumnsRenamed({"doc_id": "doc_b", "s": "sh_b"}), "doc_b")
        .filter(
            F.size(F.array_intersect("sh_a", "sh_b"))
            >= F.lit(jaccard_threshold) * F.size(F.array_union("sh_a", "sh_b"))
        )
        .select(F.col("doc_b").alias("doc_id"))  # doc_a < doc_b: keep the lower id
        .distinct()
    )
    return exact_kept.join(confirmed, "doc_id", "left_anti")


def filter_quality(
    docs: DataFrame,
    min_stopword_ratio: float = 0.0,
    min_distinct_ratio: float = 0.2,
    min_tokens: int = 5,
) -> DataFrame:
    """Quality gate for a training corpus: minimum length, bounded
    repetition (distinct-token ratio), optional fluency floor
    (stopword ratio). Pure scan-side predicates."""
    tok = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    n = F.size(tok)
    stop_ratio = F.size(F.filter(tok, lambda t: t.isin("the", "a", "of", "and", "to", "in", "is", "on", "for", "with"))).cast("double") / n
    distinct_ratio = F.size(F.array_distinct(tok)).cast("double") / n
    return docs.filter(
        (n >= min_tokens)
        & (distinct_ratio >= min_distinct_ratio)
        & (stop_ratio >= min_stopword_ratio)
    )


@query(
    "dedup_cluster_resolution",
    oracle=f"""
    -- transitive closure over the exact near-dup truth pairs via a
    -- recursive CTE: every doc labels with its component's minimum id.
    -- The engine must reach identical clusters from LSH-discovered
    -- pairs + label propagation — an under-merged chain (a↔b↔c left
    -- as two clusters) or a missed pair changes counts immediately.
    WITH RECURSIVE {_TRUTH_PAIRS_CTE},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM truth
      UNION
      SELECT doc_b, doc_a FROM truth
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    labels AS (
      SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      FROM reach GROUP BY src
    )
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
           min(doc_id) AS keeper_doc_id
    FROM labels GROUP BY cluster_id ORDER BY cluster_id
    """,
)
def dedup_cluster_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clustering over LSH-verified near-dup
    pairs: cluster sizes and keeper ids — the corpus-level
    keep-one-per-cluster semantics (pairwise drop under-merges
    chains). Hash-gated (VERDICT r4 #1) against a DuckDB recursive-CTE
    connected-components twin over the exact truth pairs; the
    components kernel itself is additionally tested on a↔b↔c chains
    against a Python model in tests/test_llm_ops.py."""
    docs = load_table(spark, sf_dir, "documents")
    verified = verified_neardup_pairs(docs).select("doc_a", "doc_b")
    nodes = verified.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")).distinct()
    return (
        min_label_components(verified, nodes, 10)
        .groupBy(F.col("lbl").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_members"), F.min("id").alias("keeper_doc_id"))
        .transform(sorted_output, "cluster_id")
    )


@query(
    "simhash_buckets",
    oracle=f"""
    -- SimHash fingerprint contract, re-scoped in round 12: the old
    -- gate asserted hamming-16 SEPARATION of J >= 0.5 pairs from
    -- non-dups, which the scratch-sf1 sweep falsified — measured
    -- there, marginal-band (J in [0.5, 0.6)) pairs reach hamming 25
    -- while the 50k-pair null distribution's tail reaches DOWN to 16;
    -- no 64-bit fingerprint boundary can separate similarity classes
    -- that close (J = 0.49 vs 0.51 pairs are distribution-identical).
    -- Separation was a property of the earlier corpora's BIMODAL pair
    -- mass (everything >= 0.89 or <= 0.1), not of the operator. The
    -- scale-true contract of a 64-bit fingerprint is the one gated
    -- now: (a) recall on the HIGH-similarity class — every J >= 0.9
    -- truth pair within hamming 16 (measured max 13 at sf1) — and
    -- (b) a bounded blocking false-positive rate — at most 1 in 1000
    -- of the adjacent-id non-dup sample within radius 16 (the rate
    -- that drives exact-verification cost at 100 TB; measured 1 of
    -- 49 998 at sf1). A broken hash mix, vote fold, or bit pack
    -- still collapses a flag: mixing failures send everything to
    -- small hamming (fails b) or scatter true dups (fails a).
    WITH {_TRUTH_PAIRS_CTE},
    adjacent AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    ),
    nondup AS (
      SELECT * FROM adjacent x
      WHERE NOT EXISTS (SELECT 1 FROM truth t
                        WHERE t.doc_a = x.doc_a AND t.doc_b = x.doc_b)
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_dup_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM nondup) AS n_nondup_pairs,
           TRUE AS dup09_hamming_le_16,
           TRUE AS nondup_fp_le_1_in_1000
    """,
)
def simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint contract, hash-gated (VERDICT r4 #1;
    re-scoped round 12 — see the oracle comment for the measured
    falsification of the old separation claim): every J >= 0.9 truth
    pair lands within hamming 16 of its partner (high-similarity
    recall — what makes hamming-ball blocking a sound DISCOVERY index
    for the dedup class), while at most 1 in 1000 of an adjacent-id
    non-dup sample lands inside that radius (the false-positive rate
    that bounds exact-verification cost — candidates are verified,
    exactly as the MinHash-LSH chain verifies its collisions; the
    marginal [0.5, 0.9) band routes through that chain, whose banded
    recall IS engineered for it).

    n_dup_pairs still counts the FULL J >= 0.5 truth set through the
    LSH + exact-verify path, so this entry additionally re-proves the
    banding recall fix at every scale it is gated at.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    sim = simhash(docs)
    verified = verified_neardup_pairs(docs)
    dup_pairs = verified.select("doc_a", "doc_b")
    adjacent = docs.select(F.col("doc_id").alias("doc_a")).join(
        docs.select((F.col("doc_id") - 1).alias("doc_a"), F.col("doc_id").alias("doc_b")),
        "doc_a",
    )
    nondup_pairs = adjacent.join(dup_pairs, ["doc_a", "doc_b"], "left_anti")

    def hamming(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(sim.withColumnsRenamed({"doc_id": "doc_a", "simhash": "ha"}), "doc_a")
            .join(sim.withColumnsRenamed({"doc_id": "doc_b", "simhash": "hb"}), "doc_b")
            .select(
                *[c for c in ("jaccard",) if c in pairs.columns],
                F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("d"),
            )
        )

    dup_stats = hamming(verified).agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        # coalesce: a corpus with no J >= 0.9 pair vacuously satisfies
        # the recall flag instead of leaking a NULL into the hash gate
        F.coalesce(F.max(F.when(F.col("jaccard") >= 0.9, F.col("d"))), F.lit(0)).alias(
            "max_dup09"
        ),
    )
    nondup_stats = hamming(nondup_pairs).agg(
        F.count(F.lit(1)).alias("n_nondup_pairs"),
        F.sum((F.col("d") <= 16).cast("long")).alias("n_fp_le16"),
    )
    return dup_stats.join(nondup_stats).select(
        "n_dup_pairs",
        "n_nondup_pairs",
        (F.col("max_dup09") <= 16).alias("dup09_hamming_le_16"),
        (F.col("n_fp_le16") * 1000 <= F.col("n_nondup_pairs")).alias("nondup_fp_le_1_in_1000"),
    )


# --- incremental near-dup gate: new batch vs existing corpus --------------


def banded_signatures(docs: DataFrame) -> DataFrame:
    """(band, band_hash, doc_id) triples for a document set — the
    probe-side AND the stored-index-side representation of the LSH
    near-dup structure. At scale the corpus side is a persisted
    artifact (like the IVF/PQ/text indexes) rebuilt only on corpus
    growth; signatures are ~144 longs/doc, so the store is O(corpus
    rows), not O(corpus bytes). r13: fused signature+banding numpy
    kernel (_banded_kernel) — triples identical to
    ``band_signatures(minhash_signatures(docs))``."""
    id_t = docs.schema["doc_id"].dataType.simpleString()
    return _hashed_shingles(docs).mapInPandas(
        _banded_kernel(N_BANDS, N_HASHES),
        schema=f"doc_id {id_t}, band int, band_hash bigint",
    )


def neardup_gate(
    corpus: DataFrame,
    incoming: DataFrame,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Incremental ingestion near-dup gate: which INCOMING documents
    near-duplicate the EXISTING corpus (the check a training-data
    pipeline runs on every batch before admitting it).

    Bucket-join the incoming band hashes against the corpus index,
    then verify only the collided pairs with exact shingle-set Jaccard —
    candidate verification never leaves the bucket-join's output, so
    the expensive text comparison runs on O(collisions), not
    O(incoming × corpus).

    Returns one row per incoming doc with a bucket collision:
    (doc_id, best_match_id, best_jaccard, is_neardup).
    """
    index_sigs = banded_signatures(corpus).select(
        F.col("doc_id").alias("corpus_id"), "band", "band_hash"
    )
    return gate_against_index(index_sigs, incoming, corpus, jaccard_threshold)


def gate_against_index(
    index_sigs: DataFrame,
    incoming: DataFrame,
    corpus: DataFrame,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-dup gate against a PRE-BUILT banded-signature index
    (``(corpus_id, band, band_hash)`` — a persisted artifact at scale,
    appended as documents are admitted; the streaming ingest gate in
    streaming/queries.py maintains exactly that store). Only collided
    pairs are verified with exact shingle-set Jaccard against the corpus
    text, so per-batch cost is O(batch + collisions), never
    O(batch × corpus)."""
    cand = (
        banded_signatures(incoming)
        .join(index_sigs, ["band", "band_hash"])
        .select("doc_id", "corpus_id")
        .distinct()
    )
    inc_toks = shingle_sets(incoming).withColumnsRenamed({"s": "tok_in"})
    corp_toks = shingle_sets(corpus).withColumnsRenamed(
        {"doc_id": "corpus_id", "s": "tok_c"}
    )
    # shingle-set Jaccard — the same unit the banded signatures hash,
    # so collision probability and the verify threshold live on one
    # scale (round-5 change from token sets, which saturate on small
    # vocabularies). coalesce the 0/0 case: two empty shingle sets are
    # not near-dups of anything textual — force a deterministic 0.0 so
    # is_neardup is a real false (never NULL) and NULL ordering can't
    # pick best_match_id
    jac = F.coalesce(
        F.round(
            F.size(F.array_intersect(F.col("tok_in"), F.col("tok_c"))).cast("double")
            / F.size(F.array_union(F.col("tok_in"), F.col("tok_c"))),
            4,
        ),
        F.lit(0.0),
    )
    scored = (
        cand.join(inc_toks, "doc_id")
        .join(corp_toks, "corpus_id")
        .select("doc_id", "corpus_id", jac.alias("jaccard"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("jaccard").desc(), F.col("corpus_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("corpus_id").alias("best_match_id"),
            F.col("jaccard").alias("best_jaccard"),
            (F.col("jaccard") >= jaccard_threshold).alias("is_neardup"),
        )
    )


@query(
    "incremental_neardup_gate",
    oracle=f"""
    -- exact truth for the batch-vs-corpus gate: for every incoming
    -- doc (doc_id % 7 = 3), its TRUE best shingle-Jaccard corpus
    -- match, exhaustively; the engine must reach the same confirmed
    -- count AND the same best scores through banded-signature
    -- collisions alone (a missed bucket or a wrong best-match pick
    -- shifts avg_best_jaccard)
    WITH {_SHINGLE_CTE},
    best AS (
      SELECT i.doc_id,
             max(round(CAST(len(list_intersect(i.s, c.s)) AS DOUBLE)
                       / len(list_distinct(list_concat(i.s, c.s))), 4)) AS best_j
      FROM sh i JOIN sh c ON i.doc_id % 7 = 3 AND c.doc_id % 7 <> 3
      GROUP BY i.doc_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 7 = 3)
             AS n_incoming,
           CAST(count(*) AS BIGINT) AS n_neardups,
           round(avg(best_j), 4) AS avg_best_jaccard
    FROM best WHERE best_j >= 0.5
    """,
)
def incremental_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus near-dup gate over a deterministic split of the
    documents table (doc_id % 7 == 3 plays the incoming batch),
    hash-gated (VERDICT r4 #1): the oracle computes every incoming
    doc's true best corpus match exhaustively; the gate must confirm
    exactly those docs — with the same best scores — from
    O(batch + collisions) work. Planted-copy behavior additionally
    pinned in tests/test_llm_ops.py::test_neardup_gate_catches_planted_copy."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    incoming = mark_wide(docs.filter(F.col("doc_id") % 7 == 3))
    corpus = mark_wide(docs.filter(F.col("doc_id") % 7 != 3))
    gated = neardup_gate(corpus, incoming)
    n_incoming = incoming.agg(F.count(F.lit(1)).alias("n_incoming"))
    confirmed = gated.filter(F.col("is_neardup")).agg(
        F.count(F.lit(1)).alias("n_neardups"),
        F.round(F.avg("best_jaccard"), 4).alias("avg_best_jaccard"),
    )
    return n_incoming.join(confirmed).select("n_incoming", "n_neardups", "avg_best_jaccard")


@query(
    "cross_corpus_lsh_decontamination",
    oracle=f"""
    -- exact truth twin of LSH-based benchmark decontamination: a
    -- TRAIN doc is contaminated iff some BENCH doc (doc_id % 10 = 0)
    -- shares shingle-Jaccard >= 0.5 with it. Inverted-index form
    -- (explode shingles, equi-join train x bench on the shingle,
    -- count shared per pair) — identical to the train x bench cross
    -- join (a J >= 0.5 pair shares ≥1 shingle) but O(Σ df_tr·df_be)
    -- instead of O(|tr|·|be|·|s|), sweepable at sf0.1 (VERDICT r11 #1).
    WITH {_SHINGLE_CTE},
    sz AS (SELECT doc_id, len(s) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    ov AS (
      SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
             CAST(count(*) AS BIGINT) AS i
      FROM ex t JOIN ex b ON t.g = b.g
      WHERE t.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
      GROUP BY 1, 2
    ),
    hits AS (
      SELECT train_id, bench_id,
             round(CAST(i AS DOUBLE) / (st.n + sb.n - i), 4) AS j
      FROM ov
      JOIN sz st ON st.doc_id = ov.train_id
      JOIN sz sb ON sb.doc_id = ov.bench_id
      WHERE 2 * i >= st.n + sb.n - i
    )
    SELECT train_id,
           CAST(count(*) AS BIGINT) AS n_bench_matches,
           max(j) AS best_jaccard
    FROM hits GROUP BY train_id ORDER BY train_id
    """,
)
def cross_corpus_lsh_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination at LSH cost: flag TRAIN documents
    near-duplicate (shingle-Jaccard >= 0.5) to ANY benchmark document
    without the train x bench cross join — band both corpora with the
    SAME MinHash banding, bucket-join on (band, band_hash), exactly
    verify only the collisions. Complements
    ``benchmark_contamination_check`` (exact n-gram overlap): this is
    the form that survives a 100 TB train corpus, because the join is
    O(bucket collisions) and the bench side's banded signatures are
    tiny (broadcastable at real benchmark sizes).

    Recall is pinned by construction: ``minhash_lsh_candidates``
    hash-gates that these exact banding parameters recover EVERY
    >= 0.5 pair on this corpus, and the cross-corpus pairs are a
    subset of those.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    bench = mark_wide(docs.filter(F.col("doc_id") % 10 == 0))
    train = mark_wide(docs.filter(F.col("doc_id") % 10 != 0))
    banded_t = banded_signatures(train)
    banded_b = banded_signatures(bench).withColumnsRenamed({"doc_id": "bench_id"})
    sh = shingle_sets(docs)
    cands = (
        banded_t.join(banded_b, ["band", "band_hash"])
        .select(F.col("doc_id").alias("train_id"), "bench_id")
        .distinct()
    )
    verified = (
        cands.join(sh.withColumnsRenamed({"doc_id": "train_id", "s": "sh_t"}), "train_id")
        .join(sh.withColumnsRenamed({"doc_id": "bench_id", "s": "sh_b"}), "bench_id")
        .withColumn("__i", F.size(F.array_intersect("sh_t", "sh_b")))
        .withColumn("__u", F.size(F.array_union("sh_t", "sh_b")))
        .filter(F.col("__i") * 2 >= F.col("__u"))
        .select(
            "train_id",
            "bench_id",
            F.round(F.col("__i").cast("double") / F.col("__u"), 4).alias("j"),
        )
    )
    return (
        verified.groupBy("train_id")
        .agg(
            F.count(F.lit(1)).alias("n_bench_matches"),
            F.max("j").alias("best_jaccard"),
        )
        .transform(sorted_output, "train_id")
    )


# --- AllPairs/PPJoin-style prefix-filtered exact similarity join ----------


@query(
    "prefix_filter_jaccard_join",
    oracle=f"""
    -- the prefix filter is LOSSLESS for Jaccard >= 0.5, so the exact
    -- all-pairs truth set IS the expected output — identical truth
    -- CTE to minhash_lsh_candidates, reached here deterministically
    -- (no hashing anywhere in the engine path)
    WITH {_TRUTH_PAIRS_CTE}
    SELECT doc_a, doc_b, jaccard FROM truth ORDER BY doc_a, doc_b
    """,
)
def prefix_filter_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join via PREFIX FILTERING (the
    AllPairs/PPJoin family: Bayardo et al. WWW'07, Xiao et al.
    WWW'08) — the deterministic, lossless counterpart to the
    probabilistic MinHash-LSH path over the same 3-token shingle sets
    and the same integer-exact threshold (2·|∩| >= |∪|, i.e. J >= 0.5).

    Principle: order every shingle by global document frequency
    (rarest first, ties by value); a doc's PREFIX is its first
    ``|s| - ceil(0.5·|s|) + 1`` shingles in that order. Any pair with
    J >= 0.5 must share at least one PREFIX shingle — so joining on
    prefix shingles alone finds every qualifying pair, and exact
    verification of candidates filters false positives. Recall is 1 by
    theorem, precision 1 by verification; the oracle pins both.

    Two further LOSSLESS PPJoin prunes run inside the candidate join
    (both proved the standard way — a qualifying pair's FIRST shared
    prefix shingle always survives them):
    - length filter: J >= 0.5 forces 0.5·|A| <= |B| <= 2·|A|;
    - position filter: matching at sorted positions (pa, pb) caps the
      remaining possible overlap at min(|A|-pa, |B|-pb)+1, which must
      reach the required overlap ceil((|A|+|B|)/3) (the t/(1+t) bound
      at t=0.5, integer-exact).
    Measured at sf0.1 they cut the candidate set 3.3× before the only
    non-arithmetic work (array intersection) runs.

    Scale shape: document frequency is one explode + window count
    (shuffle keyed on shingle); the candidate join is keyed on PREFIX
    shingles only — the rarest ~half of each doc's shingles — so
    bucket sizes track the frequency ordering's whole point: common
    shingles never become join keys. Verification touches candidates
    only (never all pairs), exactly like the LSH path's collision set.
    The shingle sets and the prefix table are cache()d because each
    feeds two plan branches (explode + both verify sides; both
    self-join sides) and Catalyst does not share subtrees across join
    inputs — without the cache the window pipeline executes twice.
    The two entries form a cross-check: a banding bug over-prunes LSH,
    a prefix-length bug over-prunes here; both hash-gate against the
    same truth set.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_sets(docs).cache()
    # (doc_id, shingle) with global df per shingle via window count
    # over the shingle partition — no separate df table or join; n
    # (set size) rides the same doc_id shuffle as the rank window
    exploded = (
        sh.select("doc_id", F.explode("s").alias("shingle"))
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    # rank shingles per doc rarest-first; prefix keeps n - ceil(n/2) + 1
    rk = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    prefix = (
        exploded.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= F.col("n") - F.ceil(F.col("n") / 2) + 1)
        .select("doc_id", "shingle", "n", "rk")
        .cache()
    )
    min_overlap = F.floor((F.col("a.n") + F.col("b.n") + F.lit(2)) / 3)
    position_ok = (
        F.least(F.col("a.n") - F.col("a.rk"), F.col("b.n") - F.col("b.rk")) + 1
        >= min_overlap
    )
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") * 2 >= F.col("a.n"))
            & (F.col("a.n") * 2 >= F.col("b.n"))
            & position_ok
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify joins stay UNHINTED: the shingle-set side is corpus-sized,
    # so at scale these are co-partitioned shuffle joins on doc id;
    # AQE promotes them to broadcast when the corpus is small enough
    return (
        cands.join(sh.withColumnsRenamed({"doc_id": "doc_a", "s": "sh_a"}), "doc_a")
        .join(sh.withColumnsRenamed({"doc_id": "doc_b", "s": "sh_b"}), "doc_b")
        .withColumn("__i", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("__u", F.size(F.array_union("sh_a", "sh_b")))
        .filter(F.col("__i") * 2 >= F.col("__u"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("__i").cast("double") / F.col("__u"), 4).alias("jaccard"),
        )
        .transform(sorted_output, "doc_a", "doc_b")
    )


@query(
    "neardup_evidence_report",
    oracle="""
    -- twin of the dup-pair EVIDENCE report: for adjacent pairs whose
    -- token-set Jaccard (floor-scaled x10^4 — NOTES ratio rule)
    -- clears 0.30, emit the overlap counts AND the top-3 shared
    -- tokens by (length DESC, token ASC) — made sortable with a
    -- zero-padded inverted-length key so both engines use one plain
    -- ascending list sort.
    WITH toks AS (
      SELECT doc_id,
             list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             list_intersect(a.tok, b.tok) AS shared,
             len(list_intersect(a.tok, b.tok)) AS n_shared,
             len(list_distinct(list_concat(a.tok, b.tok))) AS n_union
      FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
    )
    SELECT doc_a, doc_b,
           CAST(n_shared AS BIGINT) AS n_shared,
           CAST(n_union AS BIGINT) AS n_union,
           CAST(n_shared * 10000 // n_union AS BIGINT) AS jaccard_e4,
           array_to_string(
             list_transform(
               list_sort(list_transform(shared,
                 t -> lpad(CAST(999 - length(t) AS VARCHAR), 3, '0') || t))[1:3],
               s -> s[4:]),
             ',') AS top_shared
    FROM pairs
    WHERE n_shared * 10000 // n_union >= 3000
    ORDER BY doc_a
    """,
)
def neardup_evidence_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup EXPLAINABILITY (the investigator verb the detection
    entries don't cover): for every flagged pair, report the overlap
    arithmetic and the strongest shared evidence — top-3 shared tokens
    by length — so a human can audit WHY two documents were called
    duplicates. The length-descending order rides a plain ascending
    array_sort via a zero-padded inverted-length key (no comparator
    lambdas, so both engines sort identically); the Jaccard threshold
    is a floor-scaled integer (no rounding boundary)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.array_distinct(_tokens(F.col("text"))).alias("tok"))
    a = toks.alias("a")
    b = toks.select(
        (F.col("doc_id") - 1).alias("join_id"),
        F.col("doc_id").alias("doc_b"),
        F.col("tok").alias("tok_b"),
    )
    shared = F.array_intersect(F.col("a.tok"), F.col("tok_b"))
    n_shared = F.size(shared).cast("long")
    n_union = F.size(F.array_union(F.col("a.tok"), F.col("tok_b"))).cast("long")
    keyed = F.transform(
        shared,
        lambda t: F.concat(
            F.lpad((F.lit(999) - F.length(t)).cast("string"), 3, "0"), t
        ),
    )
    top3 = F.transform(
        F.slice(F.array_sort(keyed), 1, 3), lambda s: F.substring(s, 4, 1000)
    )
    return (
        a.join(b, F.col("a.doc_id") == F.col("join_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            "doc_b",
            n_shared.alias("n_shared"),
            n_union.alias("n_union"),
            F.expr("n_shared * 10000 DIV n_union").alias("jaccard_e4"),
            F.array_join(top3, ",").alias("top_shared"),
        )
        .filter(F.col("jaccard_e4") >= 3000)
        .orderBy("doc_a")
    )


@query(
    "shingle_containment_pairs",
    oracle=f"""
    -- exact ordered-pair containment truth set: C(A→B) = |A∩B|/|A|,
    -- threshold 0.8 tested integer-exactly (5·|∩| >= 4·|A| — no float
    -- boundary), value floor-scaled ×10^4 (NOTES ratio rule). The
    -- oracle runs all ordered pairs; the engine must reach the SAME
    -- set through the asymmetric prefix filter.
    WITH {_SHINGLE_CTE}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(a.s) AS BIGINT) AS n_a,
           CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_inter,
           CAST(len(list_intersect(a.s, b.s)) * 10000 // len(a.s) AS BIGINT)
             AS containment_e4
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE 5 * len(list_intersect(a.s, b.s)) >= 4 * len(a.s)
    ORDER BY doc_a, doc_b
    """,
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT self-join — the dedup verb the Jaccard
    family can't express: C(A→B) = |A∩B|/|A| flags a document whose
    content is (mostly) a SUBSET of another even when the container is
    much larger, so Jaccard ≈ |A|/|B| stays far below any symmetric
    threshold. This is how quote-expansion, boilerplate-wrapped
    reposts, and doc-in-doc duplication are caught in training-data
    curation (reference analogue: the duplicate-variant guard in
    /root/reference/etl/transformers/midocean_transformer.py:269-302
    treats subset rows as duplicates regardless of parent size).

    Engine path (exact, deterministic — no hashing): the asymmetric
    prefix filter. Order shingles by global document frequency
    (rarest first, ties by value). If |A∩B| >= ceil(0.8·|A|) then at
    most |A| - ceil(0.8·|A|) of A's shingles miss B, so A's prefix of
    size |A| - ceil(0.8·|A|) + 1 shares at least one shingle with B
    (pigeonhole — for ANY fixed ordering). Only A is prefixed; B joins
    with its FULL shingle list (containment ignores |B|), plus two
    lossless prunes at the first shared ordered position (pa, pb):
    |B| itself must reach the required overlap, and
    1 + min(|A|-pa, |B|-pb) >= ceil(0.8·|A|). Verification intersects
    candidate pairs only. Scale shape: the join is keyed on A-prefix
    shingles — the rarest ~fifth of each doc — so common shingles
    almost never become join keys; candidates, not pairs, bound the
    work, exactly like prefix_filter_jaccard_join.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_sets(docs).cache()
    exploded = (
        sh.select("doc_id", F.explode("s").alias("shingle"))
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    rk = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    ranked = (
        exploded.withColumn("rk", F.row_number().over(rk))
        .select("doc_id", "shingle", "n", "rk")
        .cache()
    )
    # ceil(0.8·n) = (4n+4) DIV 5; A keeps n - ceil(0.8n) + 1 prefix keys
    req = F.expr("(4 * a.n + 4) DIV 5")
    prefix_a = ranked.filter(
        F.col("rk") <= F.col("n") - F.expr("(4 * n + 4) DIV 5") + 1
    )
    position_ok = (
        F.lit(1)
        + F.least(F.col("a.n") - F.col("a.rk"), F.col("b.n") - F.col("b.rk"))
        >= req
    )
    cands = (
        prefix_a.alias("a")
        .join(ranked.alias("b"), "shingle")
        .filter(
            (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.col("b.n") >= req)
            & position_ok
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return (
        cands.join(sh.withColumnsRenamed({"doc_id": "doc_a", "s": "sh_a"}), "doc_a")
        .join(sh.withColumnsRenamed({"doc_id": "doc_b", "s": "sh_b"}), "doc_b")
        .withColumn("n_a", F.size("sh_a").cast("long"))
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .filter(F.col("n_inter") * 5 >= F.col("n_a") * 4)
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_inter",
            F.expr("n_inter * 10000 DIV n_a").alias("containment_e4"),
        )
        .transform(sorted_output, "doc_a", "doc_b")
    )
