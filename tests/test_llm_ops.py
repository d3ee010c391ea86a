"""Behavioral tests for the LLM-pipeline operators: planted
near-duplicates must be found, ANN must agree with brute force, and
the multimodal stub must expose real plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pim_etl_spark.llm_ops import xxh64_np as X
from pim_etl_spark.llm_ops.dedup import (
    N_BANDS,
    N_HASHES,
    _shingles,
    band_signatures,
    banded_signatures,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
)
from pim_etl_spark.llm_ops.multimodal import decode_media, documents_as_media, fake_decode
from pim_etl_spark.llm_ops.similarity import TOP_K
from pim_etl_spark.sources import load_table

BASE = (
    "the quick brown fox jumps over the lazy dog while the merge join "
    "streams sorted rows into the hash table and the optimizer prunes "
    "partitions before the scan starts reading column chunks from disk"
)


@pytest.fixture(scope="module")
def planted(spark):
    # doc 1 == doc 0 with one word changed (near-dup); doc 2 unrelated
    rows = [
        (0, BASE, "en"),
        (1, BASE.replace("lazy", "sleepy"), "en"),
        (2, "completely different text about nothing in particular at all " * 4, "en"),
        (3, BASE, "en"),  # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_minhash_finds_planted_neardups(planted):
    sigs = minhash_signatures(planted)
    pairs = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sigs).collect()}
    assert (0, 1) in pairs  # near-dup caught
    assert (0, 3) in pairs  # exact dup caught
    assert (0, 2) not in pairs and (1, 2) not in pairs  # unrelated not paired


def test_simhash_identical_docs_equal(planted):
    vals = {r.doc_id: r.simhash for r in simhash(planted).collect()}
    assert vals[0] == vals[3]
    # near-dup within small hamming distance; unrelated far
    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(vals[0], vals[1]) <= 8
    assert hamming(vals[0], vals[2]) > 8


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    from pim_etl_spark.catalog import get_queries
    from pim_etl_spark.llm_ops.similarity import lsh_topk_results

    qs = get_queries()
    exact = [r.vec_id for r in qs["cosine_topk_bruteforce"](spark, sf_dir).collect()]
    approx = [r.vec_id for r in lsh_topk_results(spark, sf_dir).collect()]
    # this corpus is near-random (max cosine ≈0.33) so LSH locality is
    # weak by construction; require overlap well above the random
    # baseline (TOP_K²/N ≈ 0.2 for N=500)
    overlap = len(set(exact) & set(approx))
    assert overlap >= 3, f"ANN recall too low: {overlap}/{TOP_K}"
    # the catalog entry folds this floor into its oracled summary row
    summary = qs["ann_lsh_topk"](spark, sf_dir).collect()
    assert len(summary) == 1 and summary[0].recall_ok


def test_media_decode_requires_decoder(spark, sf_dir):
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    with pytest.raises(NotImplementedError, match="no media codec"):
        decode_media(media)


def test_media_decode_stub_dimensions(spark, sf_dir):
    media = documents_as_media(load_table(spark, sf_dir, "documents")).limit(20)
    decoded = decode_media(media, decoder=fake_decode).collect()
    assert decoded
    for r in decoded:
        assert 1 <= r.width <= 640 and 1 <= r.height <= 480
        assert r.media_type in {"image", "audio", "video"}


def test_neardup_gate_catches_planted_copy(spark):
    """An incoming doc that lightly mutates a corpus doc must be
    flagged by the batch-vs-corpus gate; a novel doc must not."""
    from pim_etl_spark.llm_ops.dedup import neardup_gate

    corpus_rows = [(i, BASE + f" corpus tail {i} {i}") for i in range(10)]
    near_copy = (100, BASE + " corpus tail 3 3 mutated")
    novel = (101, "completely different content about pottery glazes and kiln temperature curves nothing shared")
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    incoming = spark.createDataFrame([near_copy, novel], "doc_id long, text string")
    out = {r.doc_id: r for r in neardup_gate(corpus, incoming).collect()}
    assert 100 in out and out[100].is_neardup
    assert out[100].best_match_id == 3
    assert out[100].best_jaccard > 0.8
    assert 101 not in out or not out[101].is_neardup


def test_media_decode_ppm_real_values(spark, sf_dir):
    """The PPM decoder must reproduce dimensions and BT.601 luminance
    computed independently (positional byte parse in the test process)
    from the raw payload bytes."""
    import numpy as np

    from pim_etl_spark.llm_ops.multimodal import decode_ppm, documents_as_ppm_media

    media = documents_as_ppm_media(load_table(spark, sf_dir, "documents")).limit(25)
    expected = {}
    for r in media.collect():
        payload = bytes(r.payload)
        assert payload[:3] == b"P6\n"
        nl = payload.index(b"\n", 3)
        w, h = map(int, payload[3:nl].split())
        assert payload[nl + 1 : nl + 5] == b"255\n"
        px = np.frombuffer(payload, np.uint8, offset=nl + 5)
        assert px.size == w * h * 3, "payload is exactly header + w*h*3 pixel bytes"
        luma = float((px.reshape(-1, 3).astype(float) @ np.array([0.299, 0.587, 0.114])).mean())
        expected[r.media_id] = (w, h, luma)
    decoded = decode_media(media, decoder=decode_ppm).collect()
    assert len(decoded) == len(expected) > 0
    for r in decoded:
        w, h, luma = expected[r.media_id]
        assert (r.width, r.height) == (w, h)
        assert abs(r.mean_luma - luma) < 1e-9
        assert 0.0 < r.mean_luma < 255.0


def test_media_frame_sample_values(spark, sf_dir):
    """Sampled-frame luminance and 2:1 average-pool resize must match
    an independent numpy computation from the raw payload bytes."""
    import numpy as np

    from pim_etl_spark.llm_ops.multimodal import documents_as_ppm_media, sample_frames

    media = documents_as_ppm_media(load_table(spark, sf_dir, "documents")).limit(10)
    weights = np.array([0.299, 0.587, 0.114])
    expected = {}
    for r in media.collect():
        payload = bytes(r.payload)
        nl = payload.index(b"\n", 3)
        w, h = map(int, payload[3:nl].split())
        px = np.frombuffer(payload, np.uint8, offset=nl + 5).reshape(h, w, 3).astype(float)
        for fi in range(0, h, 4):
            frame = px[fi]
            luma = float((frame @ weights).mean())
            hw = w // 2
            pooled = float(((frame[: hw * 2].reshape(hw, 2, 3).mean(axis=1)) @ weights).mean())
            expected[(r.media_id, fi)] = (w, luma, hw, pooled)
    got = sample_frames(media, every=4).collect()
    assert len(got) == len(expected) > 0
    for r in got:
        w, luma, hw, pooled = expected[(r.media_id, r.frame_idx)]
        assert r.frame_w == w and r.resized_w == hw
        assert abs(r.frame_luma - luma) < 1e-9
        assert abs(r.resized_luma - pooled) < 1e-9


def test_exact_dedup_keeps_min_doc_id(spark, planted):
    from pim_etl_spark.llm_ops.dedup import _norm_text

    groups = (
        planted.groupBy(F.md5(_norm_text(F.col("text"))).alias("h"))
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    dup_group = [g for g in groups if g.n == 2]
    assert len(dup_group) == 1 and dup_group[0].keeper == 0


def test_dedup_corpus_drops_planted_dups(spark, planted):
    from pim_etl_spark.llm_ops.dedup import dedup_corpus

    survivors = {r.doc_id for r in dedup_corpus(planted, jaccard_threshold=0.8).collect()}
    assert 0 in survivors          # keeper of the exact-dup group
    assert 3 not in survivors      # exact dup of 0 dropped
    assert 1 not in survivors      # near-dup (1 word changed) dropped
    assert 2 in survivors          # unrelated doc kept


def test_filter_quality(spark):
    from pim_etl_spark.llm_ops.dedup import filter_quality

    rows = [
        (0, "the cat sat on the mat and the dog slept", "en"),   # fine
        (1, "spam spam spam spam spam spam spam spam", "en"),    # repetitive
        (2, "too short", "en"),                                  # short
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    kept = {r.doc_id for r in filter_quality(docs, min_distinct_ratio=0.3).collect()}
    assert kept == {0}


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    from pim_etl_spark.catalog import get_queries
    from pim_etl_spark.llm_ops.similarity import ivf_topk_results

    qs = get_queries()
    exact = [r.vec_id for r in qs["cosine_topk_bruteforce"](spark, sf_dir).collect()]
    ivf = [r.vec_id for r in ivf_topk_results(spark, sf_dir).collect()]
    # near-random corpus: requires overlap clearly above the ~0.2
    # random baseline; probing 3/10 cells bounds achievable recall
    overlap = len(set(exact) & set(ivf))
    assert overlap >= 2, f"IVF recall too low: {overlap}/{TOP_K}"
    summary = qs["ann_ivf_topk"](spark, sf_dir).collect()
    assert len(summary) == 1 and summary[0].recall_ok


def test_batched_topk_agrees_with_single_query(spark, sf_dir):
    from pim_etl_spark.catalog import get_queries
    from pim_etl_spark.llm_ops.similarity import QUERY_VEC_ID

    qs = get_queries()
    batched = qs["batched_topk_multiquery"](spark, sf_dir).collect()
    single = [(r.vec_id, r.cosine) for r in qs["cosine_topk_bruteforce"](spark, sf_dir).collect()]
    q0 = [(r.vec_id, r.cosine) for r in batched if r.query_id == QUERY_VEC_ID]
    assert q0 == single
    assert {r.query_id for r in batched} == {0, 1, 2, 3, 4}
    for qid in range(5):
        assert sum(1 for r in batched if r.query_id == qid) == 10


def test_text_index_agrees_with_scan_search(spark, sf_dir):
    """The stored inverted index must find exactly the docs a full text
    scan finds (token-exact terms; corpus tokens are clean words)."""
    from pyspark.sql import functions as F

    from pim_etl_spark.llm_ops.text import build_text_index
    from pim_etl_spark.sources import load_table

    d = build_text_index(spark, sf_dir)
    postings = spark.read.parquet(f"{d}/postings.parquet")
    terms = ("spark", "stream", "window")
    indexed = {
        r.doc_id
        for r in postings.filter(F.col("token").isin(*terms)).select("doc_id").distinct().collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t"))
    scanned = {
        r.doc_id
        for r in toks.filter(
            F.arrays_overlap(F.col("t"), F.array(*[F.lit(t) for t in terms]))
        ).collect()
    }
    assert indexed == scanned and indexed
    # tf sanity: a doc's tf for a term == its token count of that term
    sample = postings.filter(F.col("token") == "spark").orderBy("doc_id").first()
    row = toks.filter(F.col("doc_id") == sample.doc_id).first()
    assert sample.tf == sum(1 for t in row.t if t == "spark")


def test_pq_adc_recall_vs_bruteforce(spark, sf_dir):
    from pim_etl_spark.catalog import get_queries
    from pim_etl_spark.llm_ops.similarity import TOP_K

    from pim_etl_spark.llm_ops.similarity import pq_topk_results

    qs = get_queries()
    exact = [r.vec_id for r in qs["cosine_topk_bruteforce"](spark, sf_dir).collect()]
    pq = [r.vec_id for r in pq_topk_results(spark, sf_dir).collect()]
    assert len(pq) == TOP_K
    overlap = len(set(exact) & set(pq))
    # compressed-domain candidates + exact re-rank: loose floor on a
    # near-random corpus with sampled (untrained) codebooks
    assert overlap >= 2, f"PQ recall too low: {overlap}/{TOP_K}"
    summary = qs["pq_adc_topk"](spark, sf_dir).collect()
    assert len(summary) == 1 and summary[0].recall_ok


def test_lsh_bucket_join_finds_planted_neardup(spark, sf_dir):
    """A planted duplicate vector MUST collide in every band and be
    reported by the bucket-join path with cosine 1.0."""
    from pyspark.sql import functions as F

    from pim_etl_spark.llm_ops.similarity import lsh_neardup_pairs
    from pim_etl_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    base = emb.filter(F.col("vec_id") == 1).select(
        F.lit(900001).cast("long").alias("vec_id"), F.col("label"), F.col("embedding")
    )
    planted = emb.select("vec_id", "label", "embedding").unionByName(base)
    out = lsh_neardup_pairs(planted, threshold=0.99).collect()
    assert any(r.vec_a == 1 and r.vec_b == 900001 and r.cosine >= 0.99 for r in out)


def _min_label_model(pairs, nodes, rounds):
    """Pure-Python min-label propagation: each round every node adopts
    the smallest label among its neighbors and itself."""
    nbrs = {n: {n} for n in nodes}
    for a, b in pairs:
        nbrs[a].add(b)
        nbrs[b].add(a)
    lbl = {n: n for n in nodes}
    for _ in range(rounds):
        lbl = {n: min(lbl[m] for m in nbrs[n]) for n in nodes}
    return lbl


# a path whose minimum sits at one end needs 7 rounds to reach node 8
_PATH = [(i, i + 1) for i in range(1, 8)]
# a-b and b-c (never a-c) chains plus a disjoint pair
_CHAINS = [(1, 2), (2, 3), (10, 11), (3, 4), (4, 5)]


@pytest.mark.parametrize(
    "pairs,isolated,rounds,converged",
    [
        pytest.param(_PATH, [], 3, False, id="path-3"),
        pytest.param(_PATH, [], 10, True, id="path-10"),
        pytest.param(_CHAINS, [99], 10, True, id="chains-10"),
    ],
)
@pytest.mark.parametrize("dtype", ["long", "string"])
def test_min_label_components_matches_python_model(
    spark, dtype, pairs, isolated, rounds, converged
):
    """The components kernel runs the same recurrence as the model,
    before convergence (path at 3 rounds) and after it; an isolated
    node keeps its own label. String ids are unpadded, so their labels
    follow string order, not numeric order."""
    from pim_etl_spark.operators.graph import min_label_components

    cast = str if dtype == "string" else int
    pairs = [(cast(a), cast(b)) for a, b in pairs]
    nodes = sorted({n for p in pairs for n in p} | {cast(n) for n in isolated})
    got = {
        r.id: r.lbl
        for r in min_label_components(
            spark.createDataFrame(pairs, f"a {dtype}, b {dtype}"),
            spark.createDataFrame([(n,) for n in nodes], f"id {dtype}"),
            rounds,
        ).collect()
    }
    want = _min_label_model(pairs, nodes, rounds)
    assert got == want
    for n in isolated:
        assert got[cast(n)] == cast(n)
    # len(nodes) rounds always reach the components
    assert (want == _min_label_model(pairs, nodes, len(nodes))) == converged


def test_embedding_group_pca(spark, sf_dir):
    from pim_etl_spark.catalog import get_queries
    from pim_etl_spark.sources import load_table

    out = {r.label: r for r in get_queries()["embedding_group_pca"](spark, sf_dir).collect()}
    counts = {
        r.label: r.n
        for r in load_table(spark, sf_dir, "embeddings").groupBy("label").count().withColumnRenamed("count", "n").collect()
    }
    assert {k: v.n for k, v in out.items()} == counts
    for r in out.values():
        assert r.total_var > 0
        assert r.pc1_ge_top_dim  # top eigval dominates every single axis
        assert r.mean_norm > 0


def test_chunking_overlap_property(spark):
    """Consecutive chunks of a long doc share CHUNK-STRIDE tokens and
    cover the doc exactly; a short doc yields one whole-doc chunk."""
    from pim_etl_spark.llm_ops import corpus
    from pyspark.sql import functions as F

    toks = [f"w{i}" for i in range(150)]
    docs = spark.createDataFrame(
        [(0, " ".join(toks)), (1, "a b c")], "doc_id long, text string"
    )
    base = docs.select(
        "doc_id", corpus._tokens(F.col("text")).alias("toks"), F.size(corpus._tokens(F.col("text"))).alias("n")
    ).withColumn(
        "n_chunks",
        (F.lit(1) + F.floor((F.greatest(F.col("n") - corpus.CHUNK_TOKENS, F.lit(0)) + (corpus.CHUNK_STRIDE - 1)) / corpus.CHUNK_STRIDE)).cast("int"),
    )
    rows = base.select(
        "doc_id", "toks", F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("i")
    ).select(
        "doc_id", "i",
        F.slice(F.col("toks"), F.col("i") * corpus.CHUNK_STRIDE + 1, corpus.CHUNK_TOKENS).alias("chunk"),
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.i] = r.chunk
    long_chunks = [by_doc[0][i] for i in sorted(by_doc[0])]
    # 150 tokens, chunk 64 stride 48 -> chunks at 0,48,96 -> 3 chunks
    assert len(long_chunks) == 3
    assert long_chunks[0] == toks[0:64] and long_chunks[1] == toks[48:112] and long_chunks[2] == toks[96:150]
    # overlap: last 16 of chunk k == first 16 of chunk k+1
    assert long_chunks[0][-16:] == long_chunks[1][:16]
    assert by_doc[1] == {0: ["a", "b", "c"]}


def test_sequence_packing_conserves_tokens(spark, sf_dir):
    """Every token lands in exactly one bin: per language, the bin
    fills sum to the corpus token total, every non-final bin is full,
    and straddle counts equal (docs overlapping >1 bin) per lang."""
    from pim_etl_spark.catalog import get_queries
    from pim_etl_spark import functions as pf
    from pim_etl_spark.llm_ops.corpus import SEQ_LEN

    bins = get_queries()["sequence_packing_bins"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    totals = {
        r.lang: r.total
        for r in docs.groupBy("lang").agg(
            F.sum(pf.token_count(F.col("text"))).alias("total")
        ).collect()
    }
    by_lang: dict = {}
    for r in bins:
        by_lang.setdefault(r.lang, []).append(r)
    assert set(by_lang) == set(totals)
    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: r.bin_id)
        assert sum(r.tokens_in_bin for r in rows) == totals[lang]
        assert [r.bin_id for r in rows] == list(range(len(rows)))
        for r in rows[:-1]:
            assert r.tokens_in_bin == SEQ_LEN, f"non-final bin not full: {r}"


def test_stratified_sample_quota_exact_and_stable(spark, sf_dir):
    from pim_etl_spark.catalog import get_queries
    from pim_etl_spark.llm_ops.corpus import STRATUM_QUOTA

    q = get_queries()["stratified_sample_quota"]
    first = [tuple(r) for r in q(spark, sf_dir).collect()]
    again = [tuple(r) for r in q(spark, sf_dir).collect()]
    assert first == again  # deterministic under re-execution
    for row in first:
        assert row[1] == STRATUM_QUOTA  # exact quota per stratum


def test_duplicated_span_union_semantics(spark):
    """A phrase shared verbatim by two docs must flag the union of its
    overlapping 8-gram spans (10 shared tokens -> 3 starts -> 10
    flagged positions, not 24), and a doc with no cross-doc 8-gram
    must be absent from the output."""
    from pim_etl_spark.llm_ops.corpus import SPAN_K, duplicated_span_removal

    assert SPAN_K == 8
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"  # 10 tokens
    rows = [
        (0, shared + " one unique ending here now", "en"),
        (1, "different opening words precede " + shared, "en"),
        (2, "totally unrelated content with no phrase overlap at all whatsoever", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    import pim_etl_spark.llm_ops.corpus as corpus_mod
    from unittest import mock

    with mock.patch.object(corpus_mod, "load_table", lambda s, d, t: docs):
        out = {r.doc_id: r for r in duplicated_span_removal(spark, "ignored").collect()}
    assert set(out) == {0, 1}
    for r in out.values():
        assert r.n_dup_spans == 3  # starts at shared-token offsets 1..3
        assert r.n_flagged_tokens == 10  # union of overlapping spans
        assert r.tokens_after == r.n_tokens - 10


def test_bloom_prefilter_no_false_negatives(spark):
    """Bloom gate split semantics: a corpus key can NEVER land in
    definitely_new (structural guarantee); novel keys overwhelmingly
    land there (FP rate bound)."""
    from pim_etl_spark.llm_ops.membership import bloom_prefilter_new_keys

    corpus = spark.range(0, 2000).selectExpr("concat('url:', id) AS key")
    # incoming: 500 known re-crawls + 500 genuinely novel URLs
    incoming = spark.range(1500, 2500).selectExpr("concat('url:', id) AS key")
    new, known = bloom_prefilter_new_keys(corpus, incoming, "key")
    new_ids = {r.key for r in new.collect()}
    known_ids = {r.key for r in known.collect()}
    corpus_ids = {f"url:{i}" for i in range(2000)}
    # every known key must be routed to the verify path
    assert {f"url:{i}" for i in range(1500, 2000)} <= known_ids
    assert not (new_ids & corpus_ids)
    # novel keys mostly skip the verify path (generous FP allowance)
    assert len(new_ids) >= 450
    assert new_ids | known_ids == {f"url:{i}" for i in range(1500, 2500)}


def test_audio_decode_wav_real_values(spark):
    """The WAV round trip is exact: JVM-built header bytes parse back
    to the construction parameters, and the PCM mean-square statistic
    matches an independent Python recomputation byte-for-byte."""
    from pim_etl_spark.llm_ops.multimodal import decode_audio, decode_wav, documents_as_wav_media

    docs = spark.createDataFrame(
        [(0, "hello world this is a test document"), (1, "x" * 100), (2, "åäö non-ascii ümlaut text")],
        "doc_id long, text string",
    )
    media = documents_as_wav_media(docs)
    got = {r.media_id: r for r in decode_audio(media).collect()}

    for doc_id, text in [(0, "hello world this is a test document"), (1, "x" * 100), (2, "åäö non-ascii ümlaut text")]:
        padded = text if len(text) >= 64 else text.ljust(64, ".")
        samples = padded.encode("utf-8")
        rate = (doc_id % 3 + 1) * 8000
        centered = [b - 128 for b in samples]
        expect_msq = sum(c * c for c in centered) * 1000 // len(samples)
        r = got[doc_id]
        assert r.sample_rate == rate
        assert r.n_samples == len(samples)
        assert r.duration_ms == len(samples) * 1000 // rate
        assert r.mean_square_e3 == expect_msq

    # corrupted payloads fail loudly, never silently mis-decode
    import pytest

    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"JUNK" + b"\x00" * 60)


def test_patchify_exact_values(spark):
    """Patch byte sums and blocked means must equal an independent
    per-pixel recomputation on a planted image with known bytes — a
    reshape-axis mixup (the classic (gh,p,gw,p) bug) or a crop
    off-by-one changes the sums immediately."""
    import numpy as np

    from pim_etl_spark.llm_ops.multimodal import (
        documents_as_ppm_media,
        patchify_images,
    )

    # 96 ascii bytes -> w = 96 % 29 + 3 = 13, h = 96 // 39 = 2 -> too
    # short for 4x4; use a 400-char text: n=400, w = 400%29+3 = 26,
    # h = 400 // 78 = 5 -> grid 1x6 (crop 4 rows x 24 cols)
    text = "".join(chr(32 + (i * 7) % 90) for i in range(400))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    media = documents_as_ppm_media(docs)
    rows = patchify_images(media, patch=4).collect()

    raw = text.encode()[: 26 * 5 * 3]
    px = np.frombuffer(raw, np.uint8).reshape(5, 26, 3)
    crop = px[:4, :24, :].astype(np.int64)
    assert len(rows) == 6
    for r in rows:
        assert r.patch_row == 0
        tile = crop[:, r.patch_col * 4 : (r.patch_col + 1) * 4, :]
        assert r.patch_sum == int(tile.sum())
        luma = (tile.astype(float) @ np.array([0.299, 0.587, 0.114])).mean()
        assert abs(r.patch_mean_luma - luma) < 1e-9


def test_audio_frame_energy_exact_values(spark):
    """Per-frame energies must equal an independent per-sample
    recomputation on a planted clip — catches a wrong header offset,
    a centering bug (unsigned 8-bit PCM is offset-128), or a frame
    reshape mixup."""
    import numpy as np

    from pim_etl_spark.llm_ops.multimodal import (
        audio_frame_energies,
        documents_as_wav_media,
    )

    text = "".join(chr(32 + (i * 11) % 90) for i in range(600))
    docs = spark.createDataFrame([(2, text)], "doc_id long, text string")
    rows = audio_frame_energies(documents_as_wav_media(docs)).collect()
    samples = np.frombuffer(text.encode(), np.uint8)
    n_frames = len(samples) // 256
    assert len(rows) == n_frames == 2
    for r in rows:
        seg = samples[r.frame_idx * 256 : (r.frame_idx + 1) * 256].astype(np.int64) - 128
        assert r.energy == int((seg * seg).sum())
        assert r.sample_rate == (2 % 3 + 1) * 8000


def test_image_ahash_exact_bits_and_dup_collision(spark):
    """The 64-bit aHash must equal an independent per-pixel
    recomputation on a planted image (catches a wrong grid stride, a
    luma-weight slip, or a >= vs > threshold drift), and two payloads
    built from identical text must collide in one bucket."""
    import numpy as np

    from pim_etl_spark.llm_ops.multimodal import (
        documents_as_ppm_media,
        image_ahash,
    )

    text = "".join(chr(33 + (i * 7) % 90) for i in range(500))
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, text[::-1])], "doc_id long, text string"
    )
    rows = {r.media_id: r for r in image_ahash(documents_as_ppm_media(docs)).collect()}

    # independent recomputation for doc 1
    n = len(text)
    w = n % 29 + 3
    h = n // (w * 3)
    body = np.frombuffer(text.encode(), np.uint8)[: w * h * 3].astype(np.int64)
    luma = (
        body.reshape(h, w, 3)[:, :, 0] * 299
        + body.reshape(h, w, 3)[:, :, 1] * 587
        + body.reshape(h, w, 3)[:, :, 2] * 114
    )
    v = luma[np.ix_((np.arange(8) * h) // 8, (np.arange(8) * w) // 8)].reshape(-1)
    bits = 64 * v > int(v.sum())
    lo = int(sum(1 << k for k in range(32) if bits[k]))
    hi = int(sum(1 << (k - 32) for k in range(32, 64) if bits[k]))
    assert (rows[1].hash_hi, rows[1].hash_lo) == (hi, lo)
    # identical text -> identical payload -> hash collision
    assert (rows[2].hash_hi, rows[2].hash_lo) == (hi, lo)
    # reversed text -> different image -> (near-certainly) different hash
    assert (rows[3].hash_hi, rows[3].hash_lo) != (hi, lo)


def test_image_ahash_uniform_image_hashes_to_zero(spark):
    """A constant-color image has every sampled luma equal to the mean;
    the STRICT > threshold must leave all 64 bits unset (a >= drift
    would set them all)."""
    from pim_etl_spark.llm_ops.multimodal import (
        documents_as_ppm_media,
        image_ahash,
    )

    docs = spark.createDataFrame([(9, "x" * 300)], "doc_id long, text string")
    r = image_ahash(documents_as_ppm_media(docs)).collect()[0]
    assert (r.hash_hi, r.hash_lo) == (0, 0)


def test_image_resize_block_mean_exact_and_short_image(spark):
    """Block-mean resize must equal an independent per-pixel
    recomputation (cell assignment (r*4)//h, (c*4)//w; integer luma;
    floor-scaled mean), and an image shorter than the 4-row grid must
    emit only the non-empty cells — no zero-count padding rows."""
    import numpy as np

    from pim_etl_spark.llm_ops.multimodal import (
        documents_as_ppm_media,
        image_resize_block_mean,
    )

    text = "".join(chr(33 + (i * 11) % 90) for i in range(400))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = image_resize_block_mean(documents_as_ppm_media(docs)).collect()

    n = len(text)
    w = n % 29 + 3
    h = n // (w * 3)
    body = np.frombuffer(text.encode(), np.uint8)[: w * h * 3].astype(np.int64)
    luma = (
        body.reshape(h, w, 3)[:, :, 0] * 299
        + body.reshape(h, w, 3)[:, :, 1] * 587
        + body.reshape(h, w, 3)[:, :, 2] * 114
    )
    ci = (np.arange(h) * 4) // h
    cj = (np.arange(w) * 4) // w
    expect = {}
    for r in range(h):
        for c in range(w):
            key = (int(ci[r]), int(cj[c]))
            s, cnt = expect.get(key, (0, 0))
            expect[key] = (s + int(luma[r, c]), cnt + 1)
    assert {(r.cell_i, r.cell_j): (r.luma_sum, r.n_px) for r in rows} == expect
    assert all(r.mean_luma_e2 == r.luma_sum * 100 // r.n_px for r in rows)

    # 96-byte padded minimum → w = 96%29+3 = 12, h = 96//36 = 2 rows:
    # cell_i can only take values {0, 2} ((0*4)//2, (1*4)//2) — the
    # empty grid rows must not appear.
    short = spark.createDataFrame([(2, "y" * 10)], "doc_id long, text string")
    srows = image_resize_block_mean(documents_as_ppm_media(short)).collect()
    assert sorted({r.cell_i for r in srows}) == [0, 2]
    assert all(r.n_px > 0 for r in srows)


def test_audio_resample_decimate_exact_with_partial_block(spark):
    """Decimate-by-4 block means must equal an independent per-sample
    recomputation, including a final PARTIAL block (66 samples → 17
    output samples, the last averaging only 2 inputs), and rate_out
    must be the decimated header rate."""
    import numpy as np

    from pim_etl_spark.llm_ops.multimodal import (
        audio_resample_decimate,
        documents_as_wav_media,
    )

    text = "".join(chr(40 + (i * 13) % 80) for i in range(66))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = audio_resample_decimate(documents_as_wav_media(docs)).collect()[0]

    pcm = np.frombuffer(text.encode(), np.uint8).astype(np.int64)
    out = [int(pcm[k * 4 : (k + 1) * 4].sum() // len(pcm[k * 4 : (k + 1) * 4]))
           for k in range((len(pcm) + 3) // 4)]
    assert r.n_out == len(out) == 17
    assert r.sum_out == sum(out)
    assert r.wsum_out == sum(k * v for k, v in enumerate(out))
    assert r.rate_out == (1 % 3 + 1) * 8000 // 4


def test_video_shot_boundaries_planted_cut_and_edges(spark):
    """A clip whose rows flip from 'a' to 'z' halfway must detect
    EXACTLY one cut at the transition frame; a 2-frame clip can never
    cut (the single jump is its own mean, and d·(h−1) > 2·Σ|d|
    requires h > 3 for a lone jump); a uniform clip reports zero
    motion and zero cuts."""
    from pim_etl_spark.llm_ops.multimodal import (
        documents_as_ppm_media,
        video_shot_boundaries,
    )

    # 792 chars → w = 792%29+3 = 12, h = 792//36 = 22; rows 0-10 'a',
    # rows 11-21 'z' → one luma jump of 12·25·1000 at frame 11.
    planted = "a" * (11 * 36) + "z" * (11 * 36)
    docs = spark.createDataFrame(
        [(1, planted), (2, "a" * 36 + "z" * 60), (3, "q" * 200)],
        "doc_id long, text string",
    )
    rows = {r.media_id: r for r in video_shot_boundaries(documents_as_ppm_media(docs)).collect()}

    r1 = rows[1]
    assert (r1.n_frames, r1.total_abs_diff) == (22, 12 * 25 * 1000)
    assert (r1.n_boundaries, r1.sum_boundary_idx) == (1, 11)

    r2 = rows[2]  # h = 96//36 = 2: jump present but never a cut
    assert r2.n_frames == 2 and r2.total_abs_diff == 12 * 25 * 1000
    assert r2.n_boundaries == 0

    r3 = rows[3]  # uniform: zero motion, zero cuts
    assert r3.total_abs_diff == 0 and r3.n_boundaries == 0


def test_sq_l2_codes_unrolled_matches_hof_and_falls_back(spark):
    """The unrolled integer squared-L2 kernel must agree exactly with
    the zip_with+aggregate form it replaces (the 4.3x-speedup rewrite
    must be a pure physical change), and a dim above _UNROLL_MAX_DIM
    must fall back to the HOF rather than emit a giant codegen method."""
    from pim_etl_spark.llm_ops.similarity import _UNROLL_MAX_DIM, sq_l2_codes

    df = spark.createDataFrame(
        [(1, [0, 255, 17, 4], [255, 0, 17, 9]), (2, [3, 3, 3, 3], [3, 3, 3, 3])],
        "id long, a array<long>, b array<long>",
    )
    rows = {
        r.id: r
        for r in df.select(
            "id",
            sq_l2_codes(F.col("a"), F.col("b"), 4).alias("unrolled"),
            sq_l2_codes(F.col("a"), F.col("b"), None).alias("hof"),
        ).collect()
    }
    assert rows[1].unrolled == rows[1].hof == 255 * 255 * 2 + 25
    assert rows[2].unrolled == rows[2].hof == 0

    # dim above the ceiling: falls back to the HOF form (fresh lambda
    # variable ids make exact string equality unstable — shape check)
    over = str(sq_l2_codes(F.col("a"), F.col("b"), _UNROLL_MAX_DIM + 1))
    assert "aggregate" in over and "element_at" not in over


def test_sq_l2_codes_ragged_inputs_guarded_at_producer(spark):
    """Round-9 ADVICE: arrays off the declared dim must never reach
    the unrolled element_at terms silently — in non-ANSI mode a NULL
    distance would sort first in an ascending top-k and promote
    garbage neighbors. The guard lives at the PRODUCER: a ragged
    corpus shows up as per-dim count variance in the bounds collect
    global_grid_codes already does, and raises ValueError driver-side
    (the in-dataframe alternatives were measured out — an in-kernel
    CaseWhen evicts whole-stage codegen, 2.05 s -> 21 s on
    knn_label_vote; a per-row size filter cost ~0.3 s/entry). Under
    ANSI (this engine's default) a precondition violated past the
    producer still throws loudly instead of yielding NULL. With
    dim=None the HOF returns NULL on a length mismatch (round-10
    ADVICE: the earlier truncate-to-shorter form returned a plausible
    PARTIAL distance with no signal), and the producer separately
    rejects NULL elements — an evenly-null corpus would pass a
    values-only count and reach the kernel as silent NULL distances."""
    import pytest

    from pim_etl_spark.llm_ops.similarity import global_grid_codes, sq_l2_codes

    # 1) the producer guard: a ragged corpus is refused loudly
    ragged = spark.createDataFrame(
        [
            (1, "a", [0.0, 1.0, 2.0, 3.0]),
            (2, "b", [4.0, 3.0, 2.0, 1.0]),
            (3, "c", [9.0, 9.0]),  # ragged: must be detected
        ],
        "vec_id long, label string, v array<double>",
    )
    with pytest.raises(ValueError, match="uniform-length"):
        global_grid_codes(ragged)
    # ...and a uniform corpus passes with its true dimensionality
    uniform = ragged.filter("size(v) = 4")
    codes, dim = global_grid_codes(uniform)
    assert dim == 4
    assert sorted(r.vec_id for r in codes.collect()) == [1, 2]

    # 2) ANSI mode makes a violated precondition loud, not silent
    df = spark.createDataFrame(
        [(1, [5, 9], [1, 1, 1, 1])], "id long, a array<long>, b array<long>"
    )
    if spark.conf.get("spark.sql.ansi.enabled") == "true":
        with pytest.raises(Exception, match="(?i)index|element_at|INVALID_ARRAY"):
            df.select(sq_l2_codes(F.col("a"), F.col("b"), 4).alias("d")).collect()

    # 3) dim=None: exact for equal lengths, NULL (not a plausible
    # partial sum) for mismatched lengths
    rows = {
        r.id: r
        for r in spark.createDataFrame(
            [
                (1, [0, 255, 17, 4], [255, 0, 17, 9]),
                (2, [5, 9], [1, 1, 1, 1]),  # mismatch: NULL, not 80
                (3, [1, 2, 3, 4], [1, 1, 1, 1]),
                (4, [7], [9, 9]),  # mismatch: NULL, not 4
            ],
            "id long, a array<long>, b array<long>",
        )
        .select("id", sq_l2_codes(F.col("a"), F.col("b"), None).alias("t"))
        .collect()
    }
    assert rows[1].t == 255 * 255 * 2 + 25
    assert rows[2].t is None
    assert rows[3].t == 0 + 1 + 4 + 9
    assert rows[4].t is None

    # 4) the producer rejects NULL elements with its OWN error — even
    # when they are spread evenly enough to keep per-dim row counts
    # uniform (the round-10 ADVICE failure mode for a values-only count)
    nullish = spark.createDataFrame(
        [
            (1, "a", [None, 1.0, 2.0, 3.0]),
            (2, "b", [4.0, None, 2.0, 1.0]),
            (3, "c", [4.0, 3.0, None, 1.0]),
            (4, "d", [4.0, 3.0, 2.0, None]),
        ],
        "vec_id long, label string, v array<double>",
    )
    with pytest.raises(ValueError, match="non-null"):
        global_grid_codes(nullish)


def test_lsh_banding_catches_marginal_band_pairs(spark):
    """Pin the round-12 scratch-sf1 find: the 8-band x 4-row scheme
    had its S-curve midpoint (0.59) ABOVE the J >= 0.5 verify
    threshold, so pairs in the MARGINAL band [0.5, 0.8) were caught
    with probability as low as 0.40 — ~70 of 2600 truth pairs missed
    at sf1, invisible on corpora whose pair mass concentrates at
    J >= 0.85. The 48x3 banding (midpoint 0.275, catch 0.9984 at the
    threshold) must find planted pairs ACROSS the marginal band, not
    just near-copies. Deterministic: fixed texts, fixed hashes.

    Eight planted pairs ride one DataFrame; each pair (2k, 2k+1)
    shares a fraction of distinct 3-token shingles tuned to land its
    exact Jaccard in [0.5, 0.8). The verify threshold is exact
    (2|i| >= |u|), so verified_neardup_pairs emitting a pair proves
    BOTH that the bucket join caught it and that its true J >= 0.5."""
    from pim_etl_spark.llm_ops.dedup import verified_neardup_pairs

    rows = []
    # shared-prefix n tokens + 4-token distinct tails per doc: shared
    # shingles = n-2, per-doc shingles = n+2, so J = (n-2)/(n+6) —
    # exact by construction; the n sweep lands J at 0.500, 0.556,
    # 0.600, 0.652, 0.692, 0.733, 0.778, 0.800
    for k, n in enumerate((10, 12, 14, 17, 20, 24, 30, 34)):
        tail_a = " ".join(f"pa{k}x{i}" for i in range(4))
        tail_b = " ".join(f"pb{k}y{i}" for i in range(4))
        shared = " ".join(f"sh{k}w{i}" for i in range(n))
        rows.append((2 * k, f"{shared} {tail_a}"))
        rows.append((2 * k + 1, f"{shared} {tail_b}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    found = {(r.doc_a, r.doc_b): r.jaccard for r in verified_neardup_pairs(docs).collect()}
    expected = {(2 * k, 2 * k + 1) for k in range(8)}
    assert set(found) == expected, found
    js = sorted(found.values())
    # the plant really covers the marginal band, not just J ~ 0.9
    assert js[0] >= 0.5 and js[0] < 0.6 and js[-1] < 0.85, js


# --- numpy XXH64 / MinHash / SimHash kernels vs the JVM expressions they replaced ---


_EDGE_LONGS = [0, 1, -1, 2**63 - 1, -(2**63), 42, 1234567890123456789, -98765432109876543]

def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "short doc"),
        (4, ""),
        (5, "a a a a a a a a"),
        (6, "unicode caféé naïve déjà vu über straße"),
        (7, "the quick brown fox jumps over the lazy dog"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")

def test_xxh64_np_matches_jvm_expressions(spark):
    """hash_long / coordinate_seeds reproduce xxhash64(lit(i), sbase)
    and the multi-long left fold bit-for-bit, including sign-edge
    longs."""
    df = spark.createDataFrame([(v,) for v in _EDGE_LONGS], "v long")
    idxs = (0, 1, 2, 47, 143)
    rows = df.select(
        "v",
        *[F.xxhash64(F.lit(i), F.col("v")).alias(f"c{i}") for i in idxs],
        F.xxhash64(F.col("v"), F.col("v"), F.col("v")).alias("fold3"),
    ).collect()
    seeds = X.coordinate_seeds(N_HASHES)
    for r in rows:
        v = np.uint64(np.int64(r["v"]))
        for i in idxs:
            assert int(np.int64(X.hash_long(v, seeds[i]))) == r[f"c{i}"]
        h = X.hash_long(v, X.SPARK_SEED)
        h = X.hash_long(v, h)
        h = X.hash_long(v, h)
        assert int(np.int64(h)) == r["fold3"]

def _reference_signatures(docs, n_hashes=N_HASHES):
    """The r12 JVM formulation: explode(shingles) → per-coordinate
    min(xxhash64(lit(i), xxhash64(shingle))) aggregate."""
    exploded = docs.select("doc_id", F.explode(_shingles(F.col("text"))).alias("shingle"))
    shingled = exploded.select("doc_id", F.xxhash64(F.col("shingle")).alias("sbase"))
    aggs = [F.min(F.xxhash64(F.lit(i), F.col("sbase"))).alias(f"h{i}") for i in range(n_hashes)]
    return shingled.groupBy("doc_id").agg(*aggs)

def test_minhash_signatures_match_jvm_reference(spark):
    docs = _docs(spark)
    got = {r["doc_id"]: r for r in minhash_signatures(docs).collect()}
    want = {r["doc_id"]: r for r in _reference_signatures(docs).collect()}
    assert set(got) == set(want)
    for d in want:
        for i in range(N_HASHES):
            assert got[d][f"h{i}"] == want[d][f"h{i}"], (d, i)

def test_banded_signatures_match_jvm_banding(spark):
    docs = _docs(spark)
    got = {(r.doc_id, r.band): r.band_hash for r in banded_signatures(docs).collect()}
    want = {
        (r.doc_id, r.band): r.band_hash
        for r in band_signatures(_reference_signatures(docs)).collect()
    }
    assert got == want
    assert len(got) == docs.count() * N_BANDS

def _reference_simhash(docs):
    """The r12 JVM fold: per-bit vote over feature hashes, majority →
    packed long with the MIN_LONG bit-63 weight."""
    from pim_etl_spark.llm_ops.dedup import SIMHASH_BITS

    bit_idx = F.array(*[F.lit(b) for b in range(SIMHASH_BITS)])
    feats = docs.select("doc_id", _shingles(F.col("text")).alias("feat"))
    votes = F.aggregate(
        F.transform(F.col("feat"), lambda t: F.xxhash64(t)),
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(acc, bit_idx, lambda a, b: a + F.getbit(h, b).cast("int")),
    )
    pow2 = F.array(
        *[F.lit(1 << b).cast("long") for b in range(SIMHASH_BITS - 1)],
        F.lit(-(1 << 63)).cast("long"),
    )
    packed = F.aggregate(
        F.zip_with(
            votes,
            pow2,
            lambda v, p: F.when(v * 2 >= F.size(F.col("feat")), p).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return feats.select("doc_id", packed.alias("simhash"))

def test_simhash_matches_jvm_reference(spark):
    docs = _docs(spark)
    got = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    want = {r.doc_id: r.simhash for r in _reference_simhash(docs).collect()}
    assert got == want
