"""Oracle-checked catalog: the LLM-data-pipeline tier — dedup (exact /
MinHash-LSH / SimHash / n-gram Jaccard / embedding-cosine), similarity
search (brute-force, LSH-bucketed, IVF), text analysis, and multimodal
plumbing, over the driver ``documents`` and ``embeddings`` tables.

Exactness: all hashing is md5 hex strings; all set arithmetic is
integer counts; cosines use integer-scaled vectors — every oracle
comparison is bit-exact. Thresholds are data-driven: the sf0.01
documents contain genuine near-dups (max Jaccard ≈ 0.99 vs noise
p99 ≈ 0.025, so 0.2 separates cleanly); embeddings pair up to
cosine ≈ 0.51, so 0.4 yields a stable near-dup set.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as T
from .common import QuerySpec, spread_input, table

K_MINHASH = 12
ROWS_PER_BAND = 2
N_BANDS = K_MINHASH // ROWS_PER_BAND

# --- shared DuckDB fragments ----------------------------------------------

_TOK = (
    "tok AS (SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace("
    "lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS toks FROM documents)"
)
_T = (
    "t AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM tok)"
)
_SH = (
    "sh AS (SELECT DISTINCT a.doc_id, a.tok || '_' || b.tok || '_' || c.tok AS s "
    "FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
    "JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2)"
)
_BASE_SH = f"WITH {_TOK}, {_T}, {_SH}"

_SIZES = "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)"
_SHARED = (
    "shared AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS shared "
    "FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)"
)
_JACC = (
    "jac AS (SELECT s.id_a, s.id_b, s.shared, sa.sz + sb.sz - s.shared AS union_size, "
    "CAST(s.shared AS DOUBLE) / CAST(sa.sz + sb.sz - s.shared AS DOUBLE) AS jaccard "
    "FROM shared s JOIN sizes sa ON sa.doc_id = s.id_a JOIN sizes sb ON sb.doc_id = s.id_b)"
)

_SIG_COLS = ", ".join(
    f"MIN(md5('{j}|' || s)) AS mh{j}" for j in range(K_MINHASH)
)
_SIG = f"sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id)"
_BANDS = "band AS (" + " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, md5(mh{2 * b} || mh{2 * b + 1}) AS key FROM sig"
    for b in range(N_BANDS)
) + ")"
# bandc mirrors lsh_candidate_pairs' bucket_cap=256: md5-ranked
# row_number <= cap on the banded relation BEFORE pairing, so a
# boilerplate mega-bucket can't go quadratic (generator-side cap, same
# family as simhash band_cap / semantic cell_cap).
LSH_BUCKET_CAP = 256
_CAND = (
    "bandc AS (SELECT band_id, key, doc_id FROM ("
    "SELECT band_id, key, doc_id, ROW_NUMBER() OVER ("
    "PARTITION BY band_id, key ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id"
    f") AS rn FROM band) WHERE rn <= {LSH_BUCKET_CAP}), "
    "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bandc a "
    "JOIN bandc b ON a.band_id = b.band_id AND a.key = b.key AND a.doc_id < b.doc_id)"
)

# NB: cast each float32 component to DOUBLE before scaling — DuckDB
# would otherwise multiply in float32 while Spark scales in double,
# and boundary values round to different integers.
_SCALED_V = (
    "v AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) "
    "for x in embedding] AS e FROM embeddings), "
    "nrm AS (SELECT vec_id, CAST(list_sum([x * x for x in e]) AS BIGINT) AS nn FROM v)"
)
_COS = (
    "CAST(CAST(list_sum(list_transform(list_zip({a}.e, {b}.e), p -> p[1] * p[2])) AS BIGINT) "
    "AS DOUBLE) / sqrt(CAST(na.nn * nb.nn AS DOUBLE))"
)


# --- Spark sides ----------------------------------------------------------

def _docs(spark, sf_dir):
    # single-row-group fixture files are indivisible scans: spread the
    # corpus so tokenize/md5-heavy consumers parallelize (no-op on any
    # multi-file table — see spread_input)
    return spread_input(table(spark, sf_dir, "documents"), "doc_id")


def _docs_raw(spark, sf_dir):
    # un-spread corpus for the multimodal tier: attach_binary feeds
    # Arrow map kernels whose payload work is already batched, and the
    # r10 A/B measured the spread exchange as a uniform loss there
    return table(spark, sf_dir, "documents")


_DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def _docs_stream(spark, sf_dir):
    """File-source replay of the documents table, layout-agnostic. The
    file stream source requires a DIRECTORY: a directory-per-table
    layout (the production shape — any real table is many part files)
    streams the table path directly; the test fixture's single-file
    layout streams the parent dir with a filename glob (a glob on the
    parent would silently match NOTHING under a directory layout)."""
    from .common import is_single_file

    path = f"{sf_dir}/documents.parquet"
    # Hadoop-FS probe (ADVICE r4): single files behind ANY scheme take
    # the parent+glob branch; directories stream the table path
    # directly — the branch that is correct at scale is the default.
    if is_single_file(spark, path):
        return (
            spark.readStream.schema(_DOCS_SCHEMA)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
    return spark.readStream.schema(_DOCS_SCHEMA).parquet(path)


def _embs(spark, sf_dir):
    # NOT spread: the embeddings table is vector-grain (no tokenize-
    # class per-row expression work at the scan), and the similarity
    # tier's kernels run against broadcast codebooks — the r10 A/B
    # measured the extra exchange as a uniform small loss across all
    # knn_*/emb_* entries and no winner
    return table(spark, sf_dir, "embeddings")


_EMBS_SCHEMA = "vec_id bigint, embedding array<float>, label int"


def _embs_stream(spark, sf_dir):
    """File-source replay of the embeddings table, layout-agnostic
    (same Hadoop-FS probe branch rule as _docs_stream)."""
    from .common import is_single_file

    path = f"{sf_dir}/embeddings.parquet"
    if is_single_file(spark, path):
        return (
            spark.readStream.schema(_EMBS_SCHEMA)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
        )
    return spark.readStream.schema(_EMBS_SCHEMA).parquet(path)


def _dedup_exact_fn(spark, sf_dir):
    # raw: one md5 per doc is too cheap to pay the spread exchange (A/B)
    return D.exact_dedup(_docs_raw(spark, sf_dir))


def _dedup_keep_longest_fn(spark, sf_dir):
    return D.exact_dedup_keep_longest(_docs(spark, sf_dir))


def _minhash_fn(spark, sf_dir):
    return D.minhash_dedup_pairs(
        _docs(spark, sf_dir), k=K_MINHASH, rows_per_band=ROWS_PER_BAND,
        jaccard_threshold=0.2,
    )


def _simhash_fn(spark, sf_dir):
    return D.simhash_dup_groups(_docs(spark, sf_dir))


def _spread_docs(spark, sf_dir):
    """Documents repartitioned to full width BEFORE the shingle
    projection — the interpreted HOF shingle cost must not run on a
    single scan task when the fixture is one parquet file (same
    pre-explosion move as minhash_dedup_pairs)."""
    n_part = spark.sparkContext.defaultParallelism
    return _docs(spark, sf_dir).repartition(n_part, "doc_id")


def _ngram_fn(spark, sf_dir):
    sh = D.shingle_frame(_spread_docs(spark, sf_dir))
    return D.jaccard_pairs(sh).filter(F.col("jaccard") >= 0.1)


def _containment_pairs_fn(spark, sf_dir):
    sh = D.shingle_frame(_spread_docs(spark, sf_dir))
    return D.containment_pairs(sh).filter(F.col("containment") >= 0.5)


_DF_CAP = 100


# r4: the three capped entries use the posting-array operators (one
# corpus explode, in-row pair generation from cap-bounded arrays) —
# measured 1.7-2.5x faster than the join-back shape, bit-identical.
def _containment_capped_fn(spark, sf_dir):
    sh = D.shingle_frame(_spread_docs(spark, sf_dir))
    return D.capped_containment_pairs(sh, _DF_CAP).filter(
        F.col("containment") >= 0.5
    )


def _containment_bottomk_fn(spark, sf_dir):
    sh = D.shingle_frame(_spread_docs(spark, sf_dir))
    return D.capped_bottomk_containment_pairs(sh, _DF_CAP, k=8, threshold=0.5)


def _containment_topk_fn(spark, sf_dir):
    """r9 (VERDICT r8 item 3): the emission-bounded production form —
    per-doc top-k partners by containment, output ≤ N·k by contract."""
    sh = D.shingle_frame(_spread_docs(spark, sf_dir))
    return D.topk_containment_pairs(sh, _DF_CAP, k_per_doc=3)


def _ngram_capped_fn(spark, sf_dir):
    sh = D.shingle_frame(_spread_docs(spark, sf_dir))
    return D.capped_jaccard_pairs(sh, _DF_CAP).filter(F.col("jaccard") >= 0.1)


def _minhash_estimate_fn(spark, sf_dir):
    return D.minhash_estimate_pairs(
        _docs(spark, sf_dir), k=K_MINHASH, rows_per_band=ROWS_PER_BAND
    )


def _ngram_novelty_fn(spark, sf_dir):
    from ..operators.curate import ngram_novelty

    return ngram_novelty(_docs(spark, sf_dir))


def _emb_dup_fn(spark, sf_dir):
    return D.embedding_dup_pairs(_embs(spark, sf_dir), threshold=0.4)


def _knn_brute_fn(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return S.cosine_topk(e.filter(F.col("vec_id") < 5), e, k=10)


def _knn_matryoshka_fn(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return S.matryoshka_topk(e.filter(F.col("vec_id") < 5), e, dims=16, k=10)


def _hard_negatives_fn(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return S.hard_negatives(e.filter(F.col("vec_id") < 5), e, k=10)


# Hard-negative mining: per anchor, top-10 most-similar vectors with a
# DIFFERENT label (label inequality in the join condition) — exact
# integer-scaled cosine, rank tiebreak on match_id.
_HARD_NEG_SQL = (
    f"WITH {_SCALED_V}, "
    "lab AS (SELECT vec_id, label FROM embeddings), "
    "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS match_id, "
    + _COS.format(a="q", b="c")
    + " AS cosine FROM v q JOIN v c ON q.vec_id < 5 AND q.vec_id <> c.vec_id "
    "JOIN lab lq ON lq.vec_id = q.vec_id "
    "JOIN lab lc ON lc.vec_id = c.vec_id AND lq.label <> lc.label "
    "JOIN nrm na ON na.vec_id = q.vec_id JOIN nrm nb ON nb.vec_id = c.vec_id) "
    "SELECT query_id, match_id, cosine, rank FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rank FROM scored) "
    "WHERE rank <= 10"
)


def _knn_lsh_fn(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return S.lsh_bucket_topk(e.filter(F.col("vec_id") < 5), e, k=5, n_bits=8)


def _knn_ivf_fn(spark, sf_dir):
    # r5: deterministic md5-medoid IVF (hash-oracle-checked); the
    # MLlib-KMeans quantizer ivf_topk stays library API (test_ann_recall)
    e = _embs(spark, sf_dir)
    return S.ivf_topk_md5(e.filter(F.col("vec_id") < 5), e, k=5)


def _text_tokens_fn(spark, sf_dir):
    return T.token_stats(_docs(spark, sf_dir))


def _text_bpe_fn(spark, sf_dir):
    return T.bpe_token_stats(_docs(spark, sf_dir))


def _text_bpe_pairs_fn(spark, sf_dir):
    # raw: vocab-grain work dominates, the spread exchange lost in A/B
    return T.bpe_pair_stats(_docs_raw(spark, sf_dir))


def _text_fertility_fn(spark, sf_dir):
    # raw: single partial agg is the pinned shape; spread adds nothing
    return T.fertility_by_lang(_docs_raw(spark, sf_dir))


def _text_quality_fn(spark, sf_dir):
    return T.quality_features(_docs(spark, sf_dir))


def _text_readability_fn(spark, sf_dir):
    return T.readability(_docs(spark, sf_dir))


def _text_zipf_fn(spark, sf_dir):
    return T.zipf_slope(_docs(spark, sf_dir), top_n=100)


def _text_jsd_fn(spark, sf_dir):
    return T.unigram_jsd(_docs(spark, sf_dir))


def _source_overlap_fn(spark, sf_dir):
    """Cross-source duplication matrix: for every source pair, how many
    distinct normalized-content hashes appear in BOTH, and the overlap
    ratio normalized by the smaller source's distinct-content count —
    the 'is source B just a mirror of source A' diagnostic that decides
    whether to drop a feed wholesale before any document-level dedup
    runs. Matching is at the 32-bit SimHash fingerprint level, not the
    exact content hash: mirrors re-wrap whitespace and boilerplate, so
    near-dup fingerprints catch them where exact hashes report nothing
    (the fixture itself has zero exact cross-source dups but real
    fingerprint overlap — exact matching would make this entry
    vacuous). Shape: the in-row fingerprint projection, one distinct
    (fp, source) reduction, a self-join keyed on the FINGERPRINT
    (fan-out per fp = number of sources carrying it — bounded by the
    source count, never corpus-quadratic), map-side combined pair
    counts, and two thin per-source total joins. One double division
    at the end."""
    d = _docs(spark, sf_dir)
    hs = (
        D.simhash(d)
        .join(d.select("doc_id", "source"), "doc_id")
        .select(F.col("simhash").alias("h"), "source")
        .distinct()
    )
    totals = hs.groupBy("source").agg(F.count("*").alias("total"))
    a = hs.withColumnsRenamed({"source": "source_a"})
    b = hs.withColumnsRenamed({"source": "source_b"})
    shared = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("shared"))
    )
    j = shared.join(
        totals.withColumnsRenamed({"source": "source_a", "total": "total_a"}),
        "source_a",
    ).join(
        totals.withColumnsRenamed({"source": "source_b", "total": "total_b"}),
        "source_b",
    )
    return j.select(
        "source_a",
        "source_b",
        "shared",
        "total_a",
        "total_b",
        (
            F.col("shared").cast("double")
            / F.least("total_a", "total_b").cast("double")
        ).alias("overlap"),
    )




def _language_mix_fn(spark, sf_dir):
    """Per-language corpus composition: docs, tokens, and token share
    by the labeled `lang` column — the first table of any multilingual
    training-data report (the labeled-column counterpart of the
    heuristic `text_langid` scorer). Token counts are an in-row size
    over the shared tokenizer, one hash agg, one 1-row broadcast
    total, one double division per row."""
    d = _docs(spark, sf_dir)
    staged = d.select("lang", F.size(T.tokens("text")).alias("n_tok"))
    g = staged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    total = g.agg(F.sum("n_tokens").alias("total"))
    return g.crossJoin(F.broadcast(total)).select(
        "lang",
        "n_docs",
        "n_tokens",
        (
            F.col("n_tokens").cast("double") / F.col("total").cast("double")
        ).alias("token_share"),
    )


_LANGUAGE_MIX_SQL = (
    f"WITH {_TOK}, "
    "s AS (SELECT d.lang, len(tok.toks) AS n_tok FROM tok "
    "JOIN documents d USING (doc_id)), "
    "g AS (SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens "
    "FROM s GROUP BY 1), "
    "t2 AS (SELECT SUM(n_tokens) AS total FROM g) "
    "SELECT g.lang, g.n_docs, g.n_tokens, "
    "CAST(g.n_tokens AS DOUBLE) / CAST(t2.total AS DOUBLE) AS token_share "
    "FROM g, t2"
)


def _cluster_sizes_fn(spark, sf_dir):
    """Near-dup cluster-size distribution: how many fingerprint
    clusters exist at each size (1 = unique content, the tail = viral
    templates) — the figure-one diagnostic of every dedup paper, and
    the number that predicts dedup's yield before running it
    (tokens removed ≈ Σ (size−1)·avg_len). Two stacked map-side-
    combinable hash aggs over the in-row SimHash projection; the
    second input is one row per cluster, the output one row per
    distinct size."""
    s = D.simhash(_docs(spark, sf_dir))
    clusters = s.groupBy("simhash").agg(F.count("*").alias("cluster_size"))
    return clusters.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters")
    )




def _coverage_curve_fn(spark, sf_dir):
    """Corpus diminishing-returns curve: cumulative distinct shingles
    after each document, in ingest (doc_id) order — the empirical
    data-scaling view behind "how much new text does the next million
    documents actually add". Composes the novelty machinery: per-doc
    novel counts come from the first-owner aggregation (no shingle-key
    join — see ngram_novelty), docs with no shingles contribute 0 via
    the doc spine, and the cumulative sum is the distributed two-phase
    prefix sum (`skew.global_cumsum`: range repartition on doc_id →
    per-slice cumsum → broadcast offsets; exact — bigint sums), NEVER
    a single-task `Window.orderBy` over the corpus."""
    from ..operators.curate import ngram_novelty
    from ..operators.skew import global_cumsum

    docs = _spread_docs(spark, sf_dir)
    nov = ngram_novelty(docs).select("doc_id", "n_novel")
    spine = docs.select("doc_id")
    base = spine.join(nov, "doc_id", "left").select(
        "doc_id", F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel")
    )
    c = global_cumsum(
        base, ["doc_id"], "n_novel", out_col="cum_distinct_shingles"
    )
    return c.select(
        "doc_id",
        "n_novel",
        F.col("cum_distinct_shingles").cast("bigint").alias(
            "cum_distinct_shingles"
        ),
    )


_COVERAGE_CURVE_SQL = (
    f"{_BASE_SH}, "
    "f AS (SELECT s, MIN(doc_id) AS first_id FROM sh GROUP BY s), "
    "own AS (SELECT first_id AS doc_id, COUNT(*) AS n_novel FROM f GROUP BY 1), "
    "b AS (SELECT d.doc_id, COALESCE(own.n_novel, 0) AS n_novel "
    "FROM documents d LEFT JOIN own USING (doc_id)) "
    "SELECT doc_id, CAST(n_novel AS BIGINT) AS n_novel, "
    "CAST(SUM(n_novel) OVER (ORDER BY doc_id) AS BIGINT) AS cum_distinct_shingles "
    "FROM b"
)


def _text_langid_fn(spark, sf_dir):
    return T.language_id(_docs(spark, sf_dir))


def _text_fp_fn(spark, sf_dir):
    return T.fingerprint(_docs(spark, sf_dir))


def _text_rep_fn(spark, sf_dir):
    return T.repetition_stats(_docs(spark, sf_dir))


def _quality_filter_fn(spark, sf_dir):
    passed = T.quality_filter(_docs(spark, sf_dir))
    return passed.select("doc_id")


def _stream_dedup_fn(spark, sf_dir):
    """Replay documents as a stream; survivors of the watermarked exact
    dedup = one per distinct content hash (hash set is deterministic;
    which duplicate passes first is arrival order, so only the hash is
    emitted)."""
    import uuid

    from ..operators.dedup import streaming_exact_dedup

    docs = _docs_stream(spark, sf_dir)
    docs = docs.withColumn(
        "ingest_time", F.timestamp_millis(F.lit(1_700_000_000_000) + F.col("doc_id"))
    )
    out = streaming_exact_dedup(docs).select("content_hash")
    name = f"sdedup_{uuid.uuid4().hex[:12]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _stream_simhash_dedup_fn(spark, sf_dir):
    """Replay documents as a stream; survivors of the watermarked
    SimHash near-dup suppression = one per distinct 32-bit fingerprint
    (the fingerprint set is deterministic; which near-copy passes first
    is arrival order, so only the fingerprint is emitted)."""
    import uuid

    from ..operators.dedup import streaming_simhash_dedup

    docs = _docs_stream(spark, sf_dir)
    docs = docs.withColumn(
        "ingest_time", F.timestamp_millis(F.lit(1_700_000_000_000) + F.col("doc_id"))
    )
    out = streaming_simhash_dedup(docs).select("simhash")
    name = f"ssim_{uuid.uuid4().hex[:12]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _stream_minhash_dedup_fn(spark, sf_dir):
    """r9 (VERDICT r8 item 5): the MinHash-LSH tier's streaming twin —
    even docs form the PERSISTED batch LSH index; odd docs replay as
    the arriving stream, compute in-row signatures, and probe the index
    with a stream-static band join; one watermarked alert per flagged
    doc. Output = the odd doc_ids near-duplicating the even corpus (18
    at sf0.01 — non-vacuous by construction)."""
    import uuid

    from ..operators.dedup import (
        lsh_band_index,
        streaming_minhash_neardup_alerts,
    )

    # spread BOTH sides before the interpreted shingle/signature work:
    # the fixture's single-file layouts would otherwise run the HOF
    # md5 folds on one scan task (the _spread_docs lesson; measured
    # 31.5 s -> the repartition rides the micro-batch)
    #
    # persist + eager fill (r10 optimization round): the stream-static
    # join re-evaluates the STATIC side once per micro-batch — the
    # profiled replay showed the ~13 CPU-s shingle/signature index
    # build running 3× (once per batch). The operator contract says
    # "probes the PERSISTED batch index"; materializing it here makes
    # every micro-batch a cache read, which is also exactly the
    # production posture (the batch job rebuilds the index
    # periodically; the stream only reads it).
    from ..operators.cache import eager_fill

    idx = eager_fill(
        lsh_band_index(
            _spread_docs(spark, sf_dir).filter(F.col("doc_id") % 2 == 0)
        ).persist()
    )
    n_part = spark.sparkContext.defaultParallelism
    docs = (
        _docs_stream(spark, sf_dir)
        .filter(F.col("doc_id") % 2 == 1)
        .repartition(n_part, "doc_id")
    )
    docs = docs.withColumn(
        "ingest_time", F.timestamp_millis(F.lit(1_700_000_000_000) + F.col("doc_id"))
    )
    out = streaming_minhash_neardup_alerts(docs, idx)
    name = f"smh_{uuid.uuid4().hex[:12]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _stream_shard_manifest_fn(spark, sf_dir):
    """r10: the shard-layout manifest maintained INCREMENTALLY — the
    batch `shard_manifest` operator applied UNCHANGED to the document
    replay stream (its whole plan is a deterministic projection + one
    grouped aggregation: stream-batch agnostic by construction, the
    Structured Streaming ideal). State = one running
    (count, sums, min, max) row per shard — 16 rows total, O(1) in
    corpus size, no watermark needed — so a 100 TB ingest keeps a
    live, always-consistent manifest for free; complete-mode emission
    replaces the 16-row table each micro-batch. Final drained state
    must equal the batch manifest exactly (same oracle)."""
    import uuid

    from ..operators.curate import shard_manifest

    out = shard_manifest(_docs_stream(spark, sf_dir), n_shards=16, seed=7)
    name = f"sshard_{uuid.uuid4().hex[:12]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# alerts = odd docs sharing ANY LSH band key with the even-doc index
# (same signature/banding fragments as the batch MinHash oracle)
_STREAM_MINHASH_SQL = (
    f"{_BASE_SH}, {_SIG}, {_BANDS}, "
    "idx AS (SELECT DISTINCT band_id, key FROM band WHERE doc_id % 2 = 0) "
    "SELECT DISTINCT b.doc_id FROM band b "
    "JOIN idx i ON i.band_id = b.band_id AND i.key = b.key "
    "WHERE b.doc_id % 2 = 1"
)


def _stream_embedding_dedup_fn(spark, sf_dir):
    """Replay embeddings as a stream through the watermarked
    sign-fingerprint near-dup guard; survivors = one per distinct
    16-dim sign bucket (which vector passes first is arrival order, so
    only the bucket is emitted)."""
    import uuid

    from ..operators.similarity import streaming_embedding_dedup

    embs = _embs_stream(spark, sf_dir).withColumn(
        "ingest_time", F.timestamp_millis(F.lit(1_700_000_000_000) + F.col("vec_id"))
    )
    out = streaming_embedding_dedup(embs).select("bucket")
    name = f"sedup_{uuid.uuid4().hex[:12]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# survivors = the distinct 16-dim sign buckets (same bit packing as
# the batch _BUCKET fragment, widened to 16 bits)
_STREAM_EMB_DEDUP_SQL = (
    "SELECT DISTINCT CAST("
    + " + ".join(
        f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {2 ** i} ELSE 0 END)"
        for i in range(16)
    )
    + " AS BIGINT) AS bucket FROM embeddings"
)


def _stream_quality_fn(spark, sf_dir):
    """Ingest-time quality gate: the batch quality_filter applied to an
    unbounded documents stream. Stateless (pure column predicates), so
    it runs per-arriving-row with zero state — the shape of a filter
    stage in a streaming training-data pipeline; batch and stream share
    the same predicate expressions by construction."""
    import uuid

    docs = _docs_stream(spark, sf_dir)
    out = T.quality_filter(docs).select("doc_id")
    name = f"squal_{uuid.uuid4().hex[:12]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _mm_meta_fn(spark, sf_dir):
    b = M.attach_binary(_docs_raw(spark, sf_dir))
    return b.select(
        "doc_id",
        F.col("meta.byte_len").alias("byte_len"),
        F.col("meta.checksum").alias("checksum"),
        F.col("meta.mime").alias("mime"),
    )


def _mm_decode_fn(spark, sf_dir):
    # default kernel = deterministic byte-stats stub
    return M.decode_features(M.attach_binary(_docs_raw(spark, sf_dir)))


def _mm_dhash_fn(spark, sf_dir):
    """One 64-bit perceptual fingerprint per payload. Extraction only —
    exact-equality grouping would be vacuous on text stand-ins (dHash
    absorbs value noise, not the insertions text near-dups carry), so
    downstream grouping composes the banded Hamming join exactly as the
    SimHash pipeline does."""
    return M.dhash_features(M.attach_binary(_docs_raw(spark, sf_dir)))


# dHash bit j compares the strided sample bytes j and j+1 (ASCII corpus:
# ord == byte, same assumption as the byte-level decode oracle); the
# HUGEINT bit sum converts to Spark's signed bigint range at the end.
_DHASH_BITS = " + ".join(
    f"CASE WHEN ord(substr(text, ({j} * (length(text) - 1)) // 64 + 1, 1)) "
    f"> ord(substr(text, ({j + 1} * (length(text) - 1)) // 64 + 1, 1)) "
    f"THEN {2 ** j} ELSE 0 END"
    for j in range(64)
)
_MM_DHASH_SQL = (
    f"WITH h AS (SELECT doc_id, {_DHASH_BITS} AS u FROM documents "
    "WHERE length(text) > 0) "
    "SELECT doc_id, CAST(CASE WHEN u >= 9223372036854775808 "
    "THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS dhash FROM h"
)


def _mm_dhash_pairs_fn(spark, sf_dir):
    """Visual near-dup pairs within Hamming 7 of the 64-bit dHash,
    over the corpus PLUS deterministic planted near-dups (VERDICT r7
    item 4: the raw sf0.01 fixture has no payloads within the radius —
    min pairwise dHash distance 12 — so the driver's oracle row
    matched on 0 rows, a vacuous check). The fixture is read-only, so
    the plant happens in-query, identically on both engines: for every
    doc with doc_id < 30 and ≥ 200 chars, append a copy under
    doc_id + 1_000_000 with the first byte replaced by 'Z'. Byte 0 is
    sampled only by hash bit 0 once len ≥ 65, so each planted copy
    lands within Hamming ≤ 1 of its original — real pairs through the
    UNMODIFIED banded operator — while distinct-doc distances (≥ 12,
    minus 2 by triangle inequality) stay outside the radius."""
    docs = _docs_raw(spark, sf_dir).select("doc_id", "text")
    planted = docs.filter(
        (F.col("doc_id") < 30) & (F.length("text") >= 200)
    ).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("Z"), F.expr("substr(text, 2)")).alias("text"),
    )
    return M.dhash_hamming_pairs(M.attach_binary(docs.unionAll(planted)))


# r7: the visual near-dup completion of the dHash entry — pigeonhole
# banding (8 bands x 8 bits at k=7) over the unsigned hash value `u`,
# md5-ranked band_cap=64 mirrored from the Spark side, xor/popcount
# verify on the signed bigint twin (identical bit pattern). r8: the
# same in-query near-dup plant as the Spark side (docsx CTE), so the
# driver compares real pairs at every sf.
_MM_DHASH_PAIRS_K = 7
_MM_DHASH_BAND_CAP = 64
_MM_DHASH_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, dh, {i} AS band_id, "
    f"CAST((u >> {8 * i}) & 255 AS BIGINT) AS band_val FROM fp"
    for i in range(_MM_DHASH_PAIRS_K + 1)
)
_MM_DHASH_PAIRS_SQL = (
    "WITH docsx AS (SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000, 'Z' || substr(text, 2) "
    "FROM documents WHERE doc_id < 30 AND length(text) >= 200), "
    f"h AS (SELECT doc_id, {_DHASH_BITS} AS u FROM docsx "
    "WHERE length(text) > 0), "
    "fp AS (SELECT doc_id, u, CAST(CASE WHEN u >= 9223372036854775808 "
    "THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS dh FROM h), "
    f"band AS ({_MM_DHASH_BANDS}), "
    "bandc AS (SELECT doc_id, dh, band_id, band_val FROM ("
    "SELECT *, ROW_NUMBER() OVER (PARTITION BY band_id, band_val "
    "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM band) "
    f"WHERE rn <= {_MM_DHASH_BAND_CAP}), "
    "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, "
    "a.dh AS fa, b.dh AS fb FROM bandc a JOIN bandc b "
    "ON a.band_id = b.band_id AND a.band_val = b.band_val "
    "AND a.doc_id < b.doc_id) "
    "SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming "
    f"FROM cand WHERE bit_count(xor(fa, fb)) <= {_MM_DHASH_PAIRS_K}"
)


def _mm_pcm_energy_fn(spark, sf_dir):
    return M.pcm_energy_windows(M.attach_binary(_docs_raw(spark, sf_dir)))


# PCM stand-in over ASCII payload bytes: sample i = ord(2i+1) +
# 256*ord(2i+2) (1-based substr), signed-int16 correction a no-op for
# ASCII but mirrored for fidelity; 32-sample windows, exact integer
# energy, silence gate n*1000. INVARIANT: this char-walk equals the
# Spark side's byte-walk only for pure-ASCII documents — enforced by
# tests/test_multimodal.py::test_documents_fixture_is_ascii (octet
# length == codepoint length on every fixture row).
_MM_PCM_SQL = (
    "WITH s AS (SELECT doc_id, text, length(text) // 2 AS ns "
    "FROM documents WHERE text IS NOT NULL AND length(text) >= 2), "
    "sm AS (SELECT doc_id, CAST(i // 32 AS BIGINT) AS win, "
    "ord(substr(text, CAST(2 * i + 1 AS INT), 1)) "
    "+ 256 * ord(substr(text, CAST(2 * i + 2 AS INT), 1)) AS v "
    "FROM s, LATERAL (SELECT unnest(range(0, ns)) AS i)), "
    "sg AS (SELECT doc_id, win, "
    "v - 65536 * (CASE WHEN v >= 32768 THEN 1 ELSE 0 END) AS sv FROM sm) "
    "SELECT doc_id, win, COUNT(*) AS n_samples, "
    "CAST(SUM(sv * sv) AS BIGINT) AS energy_sq, "
    "CAST(CASE WHEN CAST(SUM(sv * sv) AS BIGINT) < COUNT(*) * 1000 "
    "THEN 1 ELSE 0 END AS BIGINT) AS is_silence "
    "FROM sg GROUP BY doc_id, win"
)


def _mm_decode_dhash_fn(spark, sf_dir):
    """r9 (VERDICT r8 item 6): REAL file -> decode -> hash. One 8×9
    image per each of the 32 smallest doc_ids, rendered TWICE (24-bit
    BMP and binary PPM with the SAME md5-derived pixels) into a
    repo-local scratch dir, ingested as FILES via read_binary_dir,
    container-parsed by the pure-numpy codecs, luma'd, and dHashed over
    actual decoded pixels — no synthetic pixel shortcut anywhere. The
    two encodings must agree (n_distinct_dhash = 1) and the hash value
    itself is recomputed from first principles by the DuckDB oracle, so
    a decode bug in EITHER container path flips the driver hash."""
    import hashlib
    import os

    from ..operators.multimodal import (
        image_dhash_features,
        render_fixture_images,
    )
    from ..operators.sources import read_binary_dir

    ids = [
        r[0]
        for r in _docs(spark, sf_dir)
        .select("doc_id")
        .orderBy("doc_id")
        .limit(32)
        .collect()
    ]
    sig = hashlib.md5(("mm_v1|" + ",".join(map(str, ids))).encode()).hexdigest()[:12]
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    out_dir = os.path.join(repo_root, ".cache", f"mm_images_{sig}")
    render_fixture_images(ids, out_dir)
    feats = image_dhash_features(read_binary_dir(spark, out_dir))
    return (
        feats.select(
            F.expr("doc_id div 10").alias("doc_id"), "height", "width", "dhash"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_encodings"),
            F.countDistinct("dhash").alias("n_distinct_dhash"),
            F.min("dhash").alias("dhash"),
            F.min("height").alias("height"),
            F.min("width").alias("width"),
        )
    )


# First-principles mirror: the fixture pixels are md5-derived, so the
# oracle recomputes gray bytes, the 8×9 grid, the horizontal-gradient
# bits (j = r*8 + c), and the signed 64-bit packing — if the engine's
# BMP or PPM parse, luma, strided anchors, or packing drift, the value
# hash diverges. n_encodings/n_distinct pin BMP-vs-PPM agreement.
_MM_DECODE_DHASH_SQL = (
    "WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 32), "
    "hx AS (SELECT doc_id, k, md5(CAST(doc_id AS VARCHAR) || '|' || "
    "CAST(k AS VARCHAR)) AS hx FROM ids, "
    "LATERAL (SELECT unnest(range(5)) AS k)), "
    "byt AS (SELECT doc_id, k * 16 + b AS pos, "
    "CAST('0x' || substr(hx, CAST(b * 2 + 1 AS INT), 2) AS INT) AS v "
    "FROM hx, LATERAL (SELECT unnest(range(16)) AS b)), "
    "px AS (SELECT doc_id, pos // 9 AS r, pos % 9 AS c, v FROM byt "
    "WHERE pos < 72), "
    "bits AS (SELECT a.doc_id, a.r * 8 + a.c AS j, "
    "CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit "
    "FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.r = a.r "
    "AND b.c = a.c + 1), "
    "dh AS (SELECT doc_id, CAST(SUM(bit * (CASE WHEN j = 63 "
    "THEN -9223372036854775808 ELSE (CAST(1 AS BIGINT) << CAST(j AS INT)) "
    "END)) AS BIGINT) AS dhash FROM bits GROUP BY doc_id) "
    "SELECT doc_id, CAST(2 AS BIGINT) AS n_encodings, "
    "CAST(1 AS BIGINT) AS n_distinct_dhash, dhash, "
    "CAST(8 AS BIGINT) AS height, CAST(9 AS BIGINT) AS width FROM dh"
)


def _mm_pixel_corpus_feats(spark, sf_dir, n_clusters: int = 100):
    """Shared front half of the r10 real-pixel near-dup entries: render
    the planted near-dup image corpus (one 3-file cluster per each of
    the ``n_clusters`` smallest doc_ids — base BMP + two single-pixel
    perturbations, one of them a PPM; ~300 files), ingest the FILES via
    ``read_binary_dir``, container-parse with the pure-numpy codecs,
    and dHash actual decoded pixels. Returns (base_ids, features df).

    The corpus size is CONSTANT in sf by design — the entry pins the
    pipeline's correctness (decode fidelity, banding recall), not its
    throughput; the sf-scaling evidence for the banded join lives with
    the text-side `multimodal_dhash_pairs` whose input grows with the
    fixture."""
    import hashlib
    import os

    from ..operators.multimodal import (
        image_dhash_features,
        render_neardup_corpus,
    )
    from ..operators.sources import read_binary_dir

    ids = [
        r[0]
        for r in _docs(spark, sf_dir)
        .select("doc_id")
        .orderBy("doc_id")
        .limit(int(n_clusters))
        .collect()
    ]
    sig = hashlib.md5(
        ("mmnd_v1|" + ",".join(map(str, ids))).encode()
    ).hexdigest()[:12]
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    out_dir = os.path.join(repo_root, ".cache", f"mmnd_images_{sig}")
    render_neardup_corpus(ids, out_dir)
    return ids, image_dhash_features(read_binary_dir(spark, out_dir))


def _mm_pixel_neardup_fn(spark, sf_dir):
    """r10 (VERDICT r9 item 1): the FULL image near-dup pipeline as one
    driver-checked path — file ingest → real BMP/PPM decode → integer
    luma → pixel dHash → banded Hamming join — over a rendered corpus
    with planted perturbation clusters. Each cluster contributes 3
    pairs inside the Hamming-7 radius by construction (single-pixel
    perturbations touch exactly one dHash bit each), so the entry is
    non-vacuous at every sf, and the DuckDB oracle recomputes pixels,
    hashes, banding, cap, and verify from first principles — a decode
    OR banding bug anywhere flips the driver hash."""
    _, feats = _mm_pixel_corpus_feats(spark, sf_dir)
    return M.hamming_pairs_from_hashes(feats.select("doc_id", "dhash"))


def _mm_pixel_recall_fn(spark, sf_dir):
    """r10: the planted-pair RECALL gate for the real-pixel pipeline —
    one row per planted intra-cluster pair (3 per cluster) with its
    found flag from the UNMODIFIED banded detector, the
    dedup_minhash_recall_eval pattern. The oracle's replay detects
    every planted pair by construction (Hamming ≤ 2 < 7), so any
    engine-side miss (decode drift, banding bug, cap starvation) makes
    found diverge 0-vs-1 and the driver row goes red — recall is
    driver-GATED, not just reported."""
    ids, feats = _mm_pixel_corpus_feats(spark, sf_dir)
    pairs = M.hamming_pairs_from_hashes(feats.select("doc_id", "dhash"))
    truth = spark.createDataFrame(
        [
            (int(i) * 10 + a, int(i) * 10 + b)
            for i in ids
            for a, b in ((0, 1), (0, 2), (1, 2))
        ],
        "id_a bigint, id_b bigint",
    )
    found = pairs.select("id_a", "id_b").withColumn("__f", F.lit(1))
    return truth.join(F.broadcast(found), ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        F.coalesce("__f", F.lit(0)).cast("bigint").alias("found"),
    )


# First-principles replay of the WHOLE pixel pipeline: md5-derived base
# pixels, the two single-pixel perturbations, luma (= pixel value for
# gray-in-RGB), the 8×9 horizontal-gradient bits, signed 64-bit packing,
# 8×8-bit banding computed per-band from the bit relation (no HUGEINT),
# the md5-ranked band cap, and the xor/popcount verify.
_MM_PIXEL_CTES = (
    "ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 100), "
    "hx AS (SELECT doc_id, k, md5(CAST(doc_id AS VARCHAR) || '|' || "
    "CAST(k AS VARCHAR)) AS hx FROM ids, "
    "LATERAL (SELECT unnest(range(5)) AS k)), "
    "byt AS (SELECT doc_id, k * 16 + b AS pos, "
    "CAST('0x' || substr(hx, CAST(b * 2 + 1 AS INT), 2) AS INT) AS v "
    "FROM hx, LATERAL (SELECT unnest(range(16)) AS b)), "
    "basepx AS (SELECT doc_id, pos // 9 AS r, pos % 9 AS c, v FROM byt "
    "WHERE pos < 72), "
    "px AS (SELECT CAST(doc_id * 10 + var AS BIGINT) AS fid, r, c, "
    "CASE WHEN var = 1 AND r = 0 AND c = 0 THEN (v + 128) % 256 "
    "WHEN var = 2 AND r = 7 AND c = 8 THEN (v + 128) % 256 "
    "ELSE v END AS v "
    "FROM basepx, LATERAL (SELECT unnest(range(3)) AS var)), "
    "bits AS (SELECT a.fid, a.r * 8 + a.c AS j, "
    "CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit "
    "FROM px a JOIN px b ON b.fid = a.fid AND b.r = a.r "
    "AND b.c = a.c + 1), "
    "dh AS (SELECT fid, CAST(SUM(bit * (CASE WHEN j = 63 "
    "THEN -9223372036854775808 ELSE (CAST(1 AS BIGINT) << CAST(j AS INT)) "
    "END)) AS BIGINT) AS dhash FROM bits GROUP BY fid), "
    "band AS (SELECT fid, CAST(j // 8 AS BIGINT) AS band_id, "
    "CAST(SUM(bit * (CAST(1 AS BIGINT) << CAST(j % 8 AS INT))) AS BIGINT) "
    "AS band_val FROM bits GROUP BY fid, j // 8), "
    "bj AS (SELECT b.fid, b.band_id, b.band_val, d.dhash FROM band b "
    "JOIN dh d ON d.fid = b.fid), "
    "bandc AS (SELECT fid, dhash, band_id, band_val FROM ("
    "SELECT *, ROW_NUMBER() OVER (PARTITION BY band_id, band_val "
    "ORDER BY md5(CAST(fid AS VARCHAR)), fid) AS rn FROM bj) "
    "WHERE rn <= 64), "
    "cand AS (SELECT DISTINCT a.fid AS id_a, b.fid AS id_b, "
    "a.dhash AS fa, b.dhash AS fb FROM bandc a JOIN bandc b "
    "ON a.band_id = b.band_id AND a.band_val = b.band_val "
    "AND a.fid < b.fid)"
)
_MM_PIXEL_NEARDUP_SQL = (
    f"WITH {_MM_PIXEL_CTES} "
    "SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming "
    "FROM cand WHERE bit_count(xor(fa, fb)) <= 7"
)
_MM_PIXEL_RECALL_SQL = (
    f"WITH {_MM_PIXEL_CTES}, "
    "vp AS (SELECT id_a, id_b FROM cand "
    "WHERE bit_count(xor(fa, fb)) <= 7), "
    "truth AS (SELECT CAST(doc_id * 10 + a AS BIGINT) AS id_a, "
    "CAST(doc_id * 10 + b AS BIGINT) AS id_b FROM ids, "
    "(VALUES (0, 1), (0, 2), (1, 2)) t(a, b)) "
    "SELECT t.id_a, t.id_b, CAST(CASE WHEN v.id_a IS NOT NULL "
    "THEN 1 ELSE 0 END AS BIGINT) AS found "
    "FROM truth t LEFT JOIN vp v ON v.id_a = t.id_a AND v.id_b = t.id_b"
)


def _mm_byte_histogram_fn(spark, sf_dir):
    return M.byte_histogram(M.attach_binary(_docs_raw(spark, sf_dir)))


# Byte histogram through the pluggable batch-kernel interface. The
# documents are ASCII (verified per-sf), so byte value == char code and
# the oracle can walk char positions: bin = ord // 16, one row per
# non-empty (doc, bin).
_MM_BYTE_HISTOGRAM_SQL = (
    "WITH pos AS (SELECT doc_id, unnest(range(1, length(text) + 1)) AS i "
    "FROM documents), "
    "b AS (SELECT p.doc_id, ord(substr(d.text, CAST(p.i AS INT), 1)) // 16 AS bin "
    "FROM pos p JOIN documents d USING (doc_id)) "
    "SELECT doc_id, CAST(bin AS BIGINT) AS bin, COUNT(*) AS cnt "
    "FROM b GROUP BY doc_id, bin"
)


# --- SQL oracles ----------------------------------------------------------

_DEDUP_EXACT_SQL = (
    "SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS content_hash, "
    "MIN(doc_id) AS keep_id, COUNT(*) AS n_docs FROM documents GROUP BY 1"
)

# Keep-longest canonicalization: same content-hash groups as the exact
# dedup oracle, keeper = longest raw text (tie → min doc_id) via one
# ranked window in SQL (the engine side is a max_by aggregation — no
# window — with identical semantics).
_DEDUP_KEEP_LONGEST_SQL = (
    "WITH h AS (SELECT doc_id, "
    "md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS content_hash, "
    "CAST(length(text) AS BIGINT) AS len FROM documents), "
    "r AS (SELECT content_hash, doc_id, len, "
    "ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY len DESC, doc_id ASC) AS rn, "
    "COUNT(*) OVER (PARTITION BY content_hash) AS n_docs, "
    "MAX(len) OVER (PARTITION BY content_hash) AS keep_chars FROM h) "
    "SELECT content_hash, CAST(n_docs AS BIGINT) AS n_docs, doc_id AS keep_id, "
    "keep_chars FROM r WHERE rn = 1"
)

_MINHASH_SQL = (
    f"{_BASE_SH}, {_SIG}, {_BANDS}, {_CAND}, {_SIZES}, {_SHARED}, {_JACC} "
    "SELECT j.id_a, j.id_b, j.shared, j.union_size, j.jaccard FROM jac j "
    "JOIN cand c ON c.id_a = j.id_a AND c.id_b = j.id_b WHERE j.jaccard >= 0.2"
)

_NGRAM_SQL = (
    f"{_BASE_SH}, {_SIZES}, {_SHARED}, {_JACC} "
    "SELECT id_a, id_b, shared, union_size, jaccard FROM jac WHERE jaccard >= 0.1"
)

# Containment |A∩B| / min(|A|,|B|) — the asymmetric partial-dup score
# (a short doc embedded in a long host scores 1.0 where Jaccard
# vanishes). Same shingle/shared fragments as the Jaccard oracle; the
# division is one double op over exact integer counts.
_CONTAIN_PAIRS_SQL = (
    f"{_BASE_SH}, {_SIZES}, {_SHARED}, "
    "cont AS (SELECT s.id_a, s.id_b, s.shared, sa.sz AS sz_a, sb.sz AS sz_b, "
    "CAST(s.shared AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE) AS containment "
    "FROM shared s JOIN sizes sa ON sa.doc_id = s.id_a "
    "JOIN sizes sb ON sb.doc_id = s.id_b) "
    "SELECT id_a, id_b, shared, sz_a, sz_b, containment FROM cont "
    "WHERE containment >= 0.5"
)

# Bottom-k containment estimate over df-capped shingles: per doc, the
# 8 smallest md5 shingle hashes probe other docs' full hash sets;
# est = hits / min(8, |H(A)|), directional (id_a = contained side).
# Deterministic md5 ranking → exact SQL mirror.
_CONTAIN_BOTTOMK_SQL = (
    f"{_BASE_SH}, "
    "keep AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100), "
    "shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)), "
    "hh AS (SELECT doc_id, md5(s) AS h FROM shc), "
    "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM hh GROUP BY doc_id), "
    "bk AS (SELECT doc_id, h FROM (SELECT doc_id, h, ROW_NUMBER() OVER "
    "(PARTITION BY doc_id ORDER BY h) AS rn FROM hh) WHERE rn <= 8), "
    "m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS m "
    "FROM bk a JOIN hh b ON a.h = b.h AND a.doc_id <> b.doc_id GROUP BY 1, 2), "
    "est AS (SELECT m.id_a, m.id_b, m.m, "
    "CAST(LEAST(sz.sz, 8) AS BIGINT) AS k_used, "
    "CAST(m.m AS DOUBLE) / CAST(LEAST(sz.sz, 8) AS DOUBLE) AS est_containment "
    "FROM m JOIN sizes sz ON sz.doc_id = m.id_a) "
    "SELECT id_a, id_b, m, k_used, est_containment FROM est "
    "WHERE est_containment >= 0.5"
)

# df-capped exact Jaccard: same boilerplate-shingle prune as the
# containment twin — sizes/Jaccard are over discriminative shingles.
_NGRAM_CAPPED_SQL = (
    f"{_BASE_SH}, "
    "keep AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100), "
    "shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)), "
    "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id), "
    "shared AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS shared "
    "FROM shc x JOIN shc y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2), "
    "jac AS (SELECT s.id_a, s.id_b, s.shared, "
    "sa.sz + sb.sz - s.shared AS union_size, "
    "CAST(s.shared AS DOUBLE) / CAST(sa.sz + sb.sz - s.shared AS DOUBLE) AS jaccard "
    "FROM shared s JOIN sizes sa ON sa.doc_id = s.id_a "
    "JOIN sizes sb ON sb.doc_id = s.id_b) "
    "SELECT id_a, id_b, shared, union_size, jaccard FROM jac "
    "WHERE jaccard >= 0.1"
)

# df-capped containment: boilerplate shingles (df > 100) are dropped
# BEFORE pair scoring; sizes and containment are over discriminative
# shingles only. This is the ~linear production form (the uncapped
# entry is the quadratic exact baseline — probe-measured exp 1.21).
_CONTAIN_CAPPED_SQL = (
    f"{_BASE_SH}, "
    "keep AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100), "
    "shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)), "
    "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id), "
    "shared AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS shared "
    "FROM shc x JOIN shc y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2), "
    "cont AS (SELECT s.id_a, s.id_b, s.shared, sa.sz AS sz_a, sb.sz AS sz_b, "
    "CAST(s.shared AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE) AS containment "
    "FROM shared s JOIN sizes sa ON sa.doc_id = s.id_a "
    "JOIN sizes sb ON sb.doc_id = s.id_b) "
    "SELECT id_a, id_b, shared, sz_a, sz_b, containment FROM cont "
    "WHERE containment >= 0.5"
)

# Per-doc top-k containment: the capped pair relation symmetrized and
# cut by one per-doc ranked window — the emission-bounded production
# form (output ≤ N·k). Ordering (containment DESC, other_id) is exact
# over integer-ratio doubles, so the window is engine-portable.
_CONTAIN_TOPK_SQL = (
    f"{_BASE_SH}, "
    "keep AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100), "
    "shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)), "
    "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id), "
    "shared AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS shared "
    "FROM shc x JOIN shc y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2), "
    "cont AS (SELECT s.id_a, s.id_b, s.shared, sa.sz AS sz_a, sb.sz AS sz_b, "
    "CAST(s.shared AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE) AS containment "
    "FROM shared s JOIN sizes sa ON sa.doc_id = s.id_a "
    "JOIN sizes sb ON sb.doc_id = s.id_b), "
    "sym AS (SELECT id_a AS doc_id, id_b AS other_id, shared, "
    "sz_a AS sz_doc, sz_b AS sz_other, containment FROM cont "
    "UNION ALL SELECT id_b, id_a, shared, sz_b, sz_a, containment FROM cont), "
    "rnkd AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id "
    "ORDER BY containment DESC, other_id) AS rnk FROM sym) "
    "SELECT doc_id, other_id, shared, sz_doc, sz_other, containment, "
    "CAST(rnk AS BIGINT) AS rnk FROM rnkd WHERE rnk <= 3"
)

# Marginal n-gram novelty per document: fraction of a doc's distinct
# shingles whose corpus-wide first owner (min doc_id) is the doc
# itself. One first-owner agg + one join back + one per-doc agg; the
# ratio is a single double division of exact counts.
_NGRAM_NOVELTY_SQL = (
    f"{_BASE_SH}, "
    "f AS (SELECT s, MIN(doc_id) AS first_id FROM sh GROUP BY s), "
    "j AS (SELECT sh.doc_id, CASE WHEN f.first_id = sh.doc_id THEN 1 ELSE 0 END "
    "AS novel FROM sh JOIN f USING (s)) "
    "SELECT doc_id, COUNT(*) AS n_shingles, CAST(SUM(novel) AS BIGINT) AS n_novel, "
    "CAST(SUM(novel) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty "
    "FROM j GROUP BY doc_id"
)

# MinHash estimator diagnostics: per LSH candidate pair, the
# fraction-of-matching-components Jaccard estimate vs the exact shingle
# Jaccard. Both are single integer-ratio divisions; the error is one
# IEEE subtraction of the two — hash-stable.
_MH_MATCHES = " + ".join(
    f"CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END" for j in range(K_MINHASH)
)
_MINHASH_EST_SQL = (
    f"{_BASE_SH}, {_SIG}, {_BANDS}, {_CAND}, {_SIZES}, {_SHARED}, {_JACC}, "
    f"est AS (SELECT c.id_a, c.id_b, CAST({_MH_MATCHES} AS DOUBLE) / "
    f"{float(K_MINHASH)!r} AS est_jaccard "
    "FROM cand c JOIN sig a ON a.doc_id = c.id_a "
    "JOIN sig b ON b.doc_id = c.id_b) "
    "SELECT e.id_a, e.id_b, e.est_jaccard, j.jaccard, "
    "ABS(e.est_jaccard - j.jaccard) AS abs_err "
    "FROM est e JOIN jac j ON j.id_a = e.id_a AND j.id_b = e.id_b"
)

# 32-bit SimHash SQL fragments, generated so every entry shares the
# exact fingerprint definition (bit j votes by md5 hex digit j+1; same
# as operators/dedup.simhash_fingerprint). 32 bits everywhere — the
# 16-bit space is collision-dominated beyond ~10M docs.
_N_SIMHASH_BITS = 32
_SIMHASH_VOTES = ", ".join(
    f"SUM(CASE WHEN substr(md5(tok), {j + 1}, 1) BETWEEN '8' AND 'f' THEN 1 ELSE -1 END) AS v{j}"
    for j in range(_N_SIMHASH_BITS)
)
_SIMHASH_FP = " + ".join(
    f"CASE WHEN v{j} > 0 THEN {2 ** j} ELSE 0 END" for j in range(_N_SIMHASH_BITS)
)
_SIMHASH_SQL = (
    f"WITH {_TOK}, {_T}, dt AS (SELECT DISTINCT doc_id, tok FROM t), "
    f"votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM dt GROUP BY doc_id), "
    f"fp AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM votes) "
    "SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id FROM fp "
    "GROUP BY simhash HAVING COUNT(*) >= 2"
)

# Streaming near-dup replay oracle: the survivor fingerprint SET is the
# batch distinct-fingerprint set (the replay horizon — 1h watermark vs
# a few seconds of synthetic ingest span — guarantees every near-copy
# is suppressed, so exactly one survivor per fingerprint).
_STREAM_SIMHASH_DEDUP_SQL = (
    f"WITH {_TOK}, {_T}, dt AS (SELECT DISTINCT doc_id, tok FROM t), "
    f"votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM dt GROUP BY doc_id) "
    f"SELECT DISTINCT CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM votes"
)

def _keep_best_fn(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    scores = T.unigram_logprob(docs).select("doc_id", "avg_nll")
    return D.simhash_keep_best(docs, scores)


# Quality-keeper near-dup groups: SimHash buckets, keeper = lowest
# per-token NLL under the corpus's own unigram LM (most fluent copy),
# ties by min id. The SQL keeper uses a per-group ranked window; the
# engine uses a min_by struct agg — independent formulations of the
# same policy.
_KEEP_BEST_SQL = (
    f"WITH {_TOK}, {_T}, dt AS (SELECT DISTINCT doc_id, tok FROM t), "
    f"votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM dt GROUP BY doc_id), "
    f"fp AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM votes), "
    "tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t GROUP BY 1, 2), "
    "cnt AS (SELECT tok, SUM(tf) AS cnt FROM tf GROUP BY 1), "
    "tot AS (SELECT SUM(cnt) AS total FROM cnt), "
    "term AS (SELECT doc_id, tf, "
    "CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1e9) AS BIGINT) AS le9 "
    "FROM tf JOIN cnt USING (tok), tot), "
    "lm AS (SELECT doc_id, "
    "round(CAST(-SUM(le9 * tf) AS DOUBLE) / SUM(tf) / 1e9, 9) AS avg_nll "
    "FROM term GROUP BY doc_id), "
    "sel AS (SELECT simhash, doc_id, avg_nll, "
    "ROW_NUMBER() OVER (PARTITION BY simhash ORDER BY avg_nll, doc_id) AS rn, "
    "COUNT(*) OVER (PARTITION BY simhash) AS n_docs, "
    "MIN(avg_nll) OVER (PARTITION BY simhash) AS keep_score "
    "FROM fp JOIN lm USING (doc_id)) "
    "SELECT simhash, n_docs, doc_id AS keep_id, keep_score "
    "FROM sel WHERE rn = 1 AND n_docs >= 2"
)


_SOURCE_OVERLAP_SQL = (
    f"WITH {_TOK}, {_T}, dt AS (SELECT DISTINCT doc_id, tok FROM t), "
    f"votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM dt GROUP BY doc_id), "
    f"fp AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM votes), "
    "hs AS (SELECT DISTINCT fp.simhash AS h, d.source "
    "FROM fp JOIN documents d USING (doc_id)), "
    "t2 AS (SELECT source, COUNT(*) AS total FROM hs GROUP BY 1), "
    "s AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared "
    "FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2) "
    "SELECT s.source_a, s.source_b, s.shared, ta.total AS total_a, tb.total AS total_b, "
    "CAST(s.shared AS DOUBLE) / CAST(LEAST(ta.total, tb.total) AS DOUBLE) AS overlap "
    "FROM s JOIN t2 ta ON ta.source = s.source_a JOIN t2 tb ON tb.source = s.source_b"
)

_CLUSTER_SIZES_SQL = (
    f"WITH {_TOK}, {_T}, dt AS (SELECT DISTINCT doc_id, tok FROM t), "
    f"votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM dt GROUP BY doc_id), "
    f"fp AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM votes), "
    "c AS (SELECT simhash, COUNT(*) AS cluster_size FROM fp GROUP BY 1) "
    "SELECT cluster_size, COUNT(*) AS n_clusters FROM c GROUP BY 1"
)



# Banded Hamming-distance near-dup pairs (pigeonhole: k+1 bands, one
# must match exactly for distance <= k). Mirrors
# operators/dedup.simhash_hamming_pairs at max_hamming=3: 4 bands of
# 8 bits over the 32-bit fingerprint.
_HAM_K = 3
_HAM_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, simhash, {i} AS band_id, "
    f"(simhash >> {8 * i}) & 255 AS band_val FROM fp"
    for i in range(_HAM_K + 1)
)
_SIMHASH_HAMMING_SQL = (
    f"WITH {_TOK}, {_T}, dt AS (SELECT DISTINCT doc_id, tok FROM t), "
    f"votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM dt GROUP BY doc_id), "
    f"fp AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM votes), "
    f"band AS ({_HAM_BANDS}), "
    "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, "
    "a.simhash AS fa, b.simhash AS fb FROM band a JOIN band b "
    "ON a.band_id = b.band_id AND a.band_val = b.band_val "
    "AND a.doc_id < b.doc_id) "
    "SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming "
    f"FROM cand WHERE bit_count(xor(fa, fb)) <= {_HAM_K}"
)


def _simhash_hamming_fn(spark, sf_dir):
    return D.simhash_hamming_pairs(_docs(spark, sf_dir), max_hamming=_HAM_K)


def _dedup_centrality_fn(spark, sf_dir):
    # raw: measured slower with the spread exchange (A/B, 3 reps)
    return D.near_dup_centrality(_docs_raw(spark, sf_dir), n_iters=3, max_hamming=_HAM_K)


def _pr_iter_sql(prev: str, cur: str) -> str:
    """One integer-exact PR iteration: inflow agg + rank update.
    Bigint floor division (//) mirrors Spark's DIV exactly for the
    all-positive operands here."""
    return (
        f"inf{cur} AS (SELECT e.dst, SUM({prev}.r // d.deg) AS inflow "
        f"FROM edges e JOIN {prev} ON {prev}.node = e.src "
        "JOIN degs d ON d.src = e.src GROUP BY e.dst), "
        f"r{cur} AS (SELECT n.node, "
        "(CAST(15000000000 AS BIGINT) // (100 * t.N)) + "
        f"(CAST(85 AS BIGINT) * COALESCE(i.inflow, 0) // 100) AS r "
        f"FROM nodes n CROSS JOIN tot t LEFT JOIN inf{cur} i ON i.dst = n.node)"
    )


# Integer-exact 3-iteration PageRank over the banded simhash near-dup
# graph (dangling mass dropped — ranking-only simplification, see
# operators/dedup.near_dup_centrality).
_DEDUP_CENTRALITY_SQL = (
    f"WITH {_TOK}, {_T}, dt AS (SELECT DISTINCT doc_id, tok FROM t), "
    f"votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM dt GROUP BY doc_id), "
    f"fp AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM votes), "
    f"rawband AS ({_HAM_BANDS}), "
    "band AS (SELECT doc_id, simhash, band_id, band_val FROM ("
    "SELECT rawband.*, ROW_NUMBER() OVER (PARTITION BY band_id, band_val "
    "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS bc FROM rawband) "
    "WHERE bc <= 64), "
    "prs AS (SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming "
    "FROM (SELECT DISTINCT a.doc_id AS id_a, "
    "b.doc_id AS id_b, a.simhash AS fa, b.simhash AS fb FROM band a JOIN band b "
    "ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id) "
    f"WHERE bit_count(xor(fa, fb)) <= {_HAM_K}), "
    "alledges AS (SELECT id_a AS src, id_b AS dst, hamming FROM prs "
    "UNION ALL SELECT id_b, id_a, hamming FROM prs), "
    "edges AS (SELECT src, dst FROM (SELECT src, dst, ROW_NUMBER() OVER ("
    "PARTITION BY src ORDER BY hamming, dst) AS rn FROM alledges) WHERE rn <= 16), "
    "degs AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1), "
    "nodes AS (SELECT doc_id AS node FROM documents), "
    "tot AS (SELECT COUNT(*) AS N FROM nodes), "
    "r0 AS (SELECT node, CAST(1000000000 AS BIGINT) // t.N AS r "
    "FROM nodes CROSS JOIN tot t), "
    + _pr_iter_sql("r0", "1") + ", "
    + _pr_iter_sql("r1", "2") + ", "
    + _pr_iter_sql("r2", "3") + " "
    "SELECT n.node AS doc_id, CAST(COALESCE(d.deg, 0) AS BIGINT) AS deg, "
    "CAST(r3.r AS BIGINT) AS rank_e9 FROM nodes n "
    "LEFT JOIN degs d ON d.src = n.node JOIN r3 ON r3.node = n.node"
)

_EMB_DUP_SQL = (
    f"WITH {_SCALED_V} "
    "SELECT * FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    + _COS.format(a="a", b="b")
    + " AS cosine FROM v a JOIN v b ON a.vec_id < b.vec_id "
    "JOIN nrm na ON na.vec_id = a.vec_id JOIN nrm nb ON nb.vec_id = b.vec_id) "
    "WHERE cosine >= 0.4"
)

_KNN_BRUTE_SQL = (
    f"WITH {_SCALED_V}, "
    "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS match_id, "
    + _COS.format(a="q", b="c")
    + " AS cosine FROM v q JOIN v c ON q.vec_id < 5 AND q.vec_id <> c.vec_id "
    "JOIN nrm na ON na.vec_id = q.vec_id JOIN nrm nb ON nb.vec_id = c.vec_id) "
    "SELECT query_id, match_id, cosine, rank FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rank FROM scored) "
    "WHERE rank <= 10"
)

def _knn_classify_fn(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return S.knn_classify(e.filter(F.col("vec_id") < 20), e, k=10)


_KNN_CLASSIFY_SQL = (
    f"WITH {_SCALED_V}, "
    "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS match_id, "
    + _COS.format(a="q", b="c")
    + " AS cosine FROM v q JOIN v c ON q.vec_id < 20 AND q.vec_id <> c.vec_id "
    "JOIN nrm na ON na.vec_id = q.vec_id JOIN nrm nb ON nb.vec_id = c.vec_id), "
    "tk AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rank FROM scored) "
    "WHERE rank <= 10), "
    "lab AS (SELECT vec_id, CAST(label AS BIGINT) AS l FROM embeddings), "
    "votes AS (SELECT tk.query_id, lab.l, COUNT(*) AS votes FROM tk "
    "JOIN lab ON lab.vec_id = tk.match_id GROUP BY 1, 2), "
    "pred AS (SELECT query_id, l AS pred_label, CAST(votes AS BIGINT) AS votes "
    "FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id "
    "ORDER BY votes DESC, l) AS rn FROM votes) WHERE rn = 1) "
    "SELECT p.query_id, lq.l AS true_label, p.pred_label, p.votes, "
    "p.pred_label = lq.l AS correct "
    "FROM pred p JOIN lab lq ON lq.vec_id = p.query_id"
)


# Matryoshka-truncated search: cosine over the first 16 components
# only — same scored/ranked shape as the brute oracle, over a
# list-sliced prefix.
_SCALED_V16 = (
    "v AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) "
    "for x in embedding[1:16]] AS e FROM embeddings), "
    "nrm AS (SELECT vec_id, CAST(list_sum([x * x for x in e]) AS BIGINT) AS nn FROM v)"
)
_KNN_MATRYOSHKA_SQL = (
    f"WITH {_SCALED_V16}, "
    "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS match_id, "
    + _COS.format(a="q", b="c")
    + " AS cosine FROM v q JOIN v c ON q.vec_id < 5 AND q.vec_id <> c.vec_id "
    "JOIN nrm na ON na.vec_id = q.vec_id JOIN nrm nb ON nb.vec_id = c.vec_id) "
    "SELECT query_id, match_id, cosine, rank FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rank FROM scored) "
    "WHERE rank <= 10"
)

_BUCKET = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {2 ** i} ELSE 0 END)" for i in range(8)
)
# Deterministic md5-medoid IVF (mirrors similarity.ivf_topk_md5): the
# corpus vectors with smallest md5(id) are the cells; assignment and
# probing rank exact-integer squared L2 (nn + cn - 2*dot, all bigint)
# with cell-id ties; probe the best 2 cells per query; exact integer
# cosine over the probed candidates only. r8: the cell COUNT is no
# longer the fixed literal 16 — it mirrors similarity.auto_n_cells
# (ceil(N/256) clamped to [4, 65536]) as a scalar-subquery LIMIT, the
# production lever that keeps expected cell membership constant as the
# corpus grows (VERDICT r7 item 3).
_AUTO_CELLS_LIMIT = (
    "LIMIT (SELECT GREATEST(4, LEAST(65536, (COUNT(*) + 255) // 256)) "
    "FROM embeddings)"
)
_IVF_SQDIST = (
    "n.nn + c.cn2 - 2 * CAST(list_sum(list_transform(list_zip(v.e, c.ce), "
    "p -> p[1] * p[2])) AS BIGINT)"
)

# --- two-level (IMI) assignment mirror, shared fragment -------------------
# Mirrors similarity.two_level_assign over the embeddings codebook:
# nested super draw (first S of the SAME md5 order; S self-gates to C
# below 64 cells, where the union argmin provably equals flat),
# centroid->super map, vector -> top-2 supers -> best cell over the
# union of both supers' groups. Shared by the semantic-cells,
# mutual-kNN, and two-level-IVF oracles so the engine and every
# consumer oracle can never drift. Produces asg(vec_id, e, nn, cell).
_IVF2_S_LIMIT = (
    "LIMIT (SELECT CASE WHEN c < 64 THEN c "
    "ELSE CAST(CEIL(SQRT(c)) AS BIGINT) END FROM "
    "(SELECT GREATEST(4, LEAST(65536, (COUNT(*) + 255) // 256)) AS c "
    "FROM embeddings))"
)
_IVF2_DOT = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2])) "
    "AS BIGINT)"
)
_IVF2_ASSIGN_CTES = (
    "centh AS (SELECT vec_id, e, md5(CAST(vec_id AS VARCHAR)) AS hm FROM v "
    f"ORDER BY hm {_AUTO_CELLS_LIMIT}), "
    "cent AS (SELECT vec_id AS cell, e AS ce, "
    "CAST(list_sum([x * x for x in e]) AS BIGINT) AS cn2, hm FROM centh), "
    "sup AS (SELECT cell AS scell, ce AS se, cn2 AS sn2 FROM "
    f"(SELECT * FROM cent ORDER BY hm {_IVF2_S_LIMIT})), "
    "c2s AS (SELECT cell, ce, cn2, scell FROM (SELECT c.cell, c.ce, c.cn2, "
    "s.scell, ROW_NUMBER() OVER (PARTITION BY c.cell ORDER BY "
    "c.cn2 + s.sn2 - 2 * "
    + _IVF2_DOT.format(a="c.ce", b="s.se")
    + ", s.scell) AS rn FROM cent c CROSS JOIN sup s) WHERE rn = 1), "
    "vsup AS (SELECT vec_id, e, nn, scell FROM (SELECT v.vec_id, v.e, n.nn, "
    "s.scell, ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY "
    "n.nn + s.sn2 - 2 * "
    + _IVF2_DOT.format(a="v.e", b="s.se")
    + ", s.scell) AS rn FROM v JOIN nrm n ON n.vec_id = v.vec_id "
    "CROSS JOIN sup s) WHERE rn <= 2), "
    "asg AS (SELECT vec_id, e, nn, cell FROM (SELECT vs.vec_id, vs.e, "
    "vs.nn, c.cell, ROW_NUMBER() OVER (PARTITION BY vs.vec_id ORDER BY "
    "vs.nn + c.cn2 - 2 * "
    + _IVF2_DOT.format(a="vs.e", b="c.ce")
    + ", c.cell) AS rn FROM vsup vs JOIN c2s c ON c.scell = vs.scell) "
    "WHERE rn = 1)"
)

_KNN_IVF_SQL = (
    f"WITH {_SCALED_V}, "
    "cent AS (SELECT vec_id AS cell, e AS ce, "
    "CAST(list_sum([x * x for x in e]) AS BIGINT) AS cn2 FROM "
    "(SELECT vec_id, e FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) "
    f"{_AUTO_CELLS_LIMIT})), "
    "asg AS (SELECT match_id, ce2, cn_m, cell FROM ("
    "SELECT v.vec_id AS match_id, v.e AS ce2, n.nn AS cn_m, c.cell, "
    f"ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {_IVF_SQDIST}, c.cell) AS rn "
    "FROM v JOIN nrm n ON n.vec_id = v.vec_id CROSS JOIN cent c) WHERE rn = 1), "
    "prob AS (SELECT query_id, qe, qn, cell FROM ("
    "SELECT v.vec_id AS query_id, v.e AS qe, n.nn AS qn, c.cell, "
    f"ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {_IVF_SQDIST}, c.cell) AS rn "
    "FROM v JOIN nrm n ON n.vec_id = v.vec_id CROSS JOIN cent c "
    "WHERE v.vec_id < 5) WHERE rn <= 2), "
    "scored AS (SELECT p.query_id, a.match_id, "
    "CAST(CAST(list_sum(list_transform(list_zip(p.qe, a.ce2), x -> x[1] * x[2])) "
    "AS BIGINT) AS DOUBLE) / sqrt(CAST(p.qn * a.cn_m AS DOUBLE)) AS cosine "
    "FROM prob p JOIN asg a ON a.cell = p.cell AND p.query_id <> a.match_id) "
    "SELECT query_id, match_id, cosine, rank FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rank FROM scored) "
    "WHERE rank <= 5"
)

def _knn_mutual_fn(spark, sf_dir):
    # stage 1 is the cell-blocked bounded kNN (cap-the-generator: the
    # exact all-pairs cosine_topk(e, e) stage-1 probed 24s / exp 1.18;
    # this one is bounded by n_cells · cell_cap² at any corpus size);
    # mutual_neighbors itself is one self-join on the N·k edge list
    e = _embs(spark, sf_dir)
    return S.mutual_neighbors(S.cell_knn_edges(e, k=10))


# within-cell kNN stage-1 (r9: the shared two-level assignment CTEs —
# the engine's cell_knn_edges now assigns through the self-gating IMI
# funnel) + per-node ranked cut + mutual reciprocity join.
_KNN_MUTUAL_SQL = (
    f"WITH {_SCALED_V}, {_IVF2_ASSIGN_CTES}, "
    "cap AS (SELECT vec_id, e, nn, cell FROM ("
    "SELECT asg.*, ROW_NUMBER() OVER (PARTITION BY cell "
    "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS crn FROM asg) "
    "WHERE crn <= 512), "
    "scored AS (SELECT a.vec_id AS query_id, b.vec_id AS match_id, "
    "CAST(CAST(list_sum(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2])) "
    "AS BIGINT) AS DOUBLE) / sqrt(CAST(a.nn * b.nn AS DOUBLE)) AS cosine "
    "FROM cap a JOIN cap b ON a.cell = b.cell AND a.vec_id <> b.vec_id), "
    "tk AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rank FROM scored) "
    "WHERE rank <= 10) "
    "SELECT a.query_id AS id_a, a.match_id AS id_b, a.cosine, "
    "CAST(a.rank AS BIGINT) AS rank_ab, CAST(b.rank AS BIGINT) AS rank_ba "
    "FROM tk a JOIN tk b ON a.query_id = b.match_id AND a.match_id = b.query_id "
    "WHERE a.query_id < a.match_id"
)



def _kmeans_lloyd_fn(spark, sf_dir):
    return S.kmeans_lloyd(_embs(spark, sf_dir), k=8, n_iters=2)


def _km_assign_cte(cent: str, out: str) -> str:
    """One Lloyd assignment pass against centroid CTE ``cent`` (cols
    cell, ce, cn2): ROW_NUMBER over exact integer sq-L2 with cell-id
    ties — identical to the Spark min_by(struct(sq, cell))."""
    return (
        f"{out} AS (SELECT vec_id, e, nn, cell, sq FROM ("
        "SELECT v.vec_id, v.e, n.nn, c.cell, "
        "n.nn + c.cn2 - 2 * CAST(list_sum(list_transform(list_zip(v.e, c.ce), "
        "p -> p[1] * p[2])) AS BIGINT) AS sq, "
        "ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY "
        "n.nn + c.cn2 - 2 * CAST(list_sum(list_transform(list_zip(v.e, c.ce), "
        "p -> p[1] * p[2])) AS BIGINT), c.cell) AS rn "
        f"FROM v JOIN nrm n ON n.vec_id = v.vec_id CROSS JOIN {cent} c) "
        "WHERE rn = 1)"
    )


def _kcenter_fn(spark, sf_dir):
    return S.kcenter_coreset(_embs(spark, sf_dir), k=8)


def _kcenter_sql(k: int = 8) -> str:
    """Unrolled greedy k-center replay: c0 = md5-medoid seed, c_i = the
    point maximizing the exact-integer min sq-distance to c0..c_{i-1}
    (ties -> min id) — each round one LIMIT 1 against the prior CTEs."""

    def dist(c: str) -> str:
        return (
            "CAST(list_sum(list_transform(list_zip(v.e, "
            f"{c}.e), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
        )

    parts = [
        "c0 AS (SELECT vec_id, e FROM v "
        "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1)"
    ]
    for i in range(1, k):
        prev = [f"c{j}" for j in range(i)]
        least = (
            dist(prev[0])
            if i == 1
            else "LEAST(" + ", ".join(dist(p) for p in prev) + ")"
        )
        notin = ", ".join(f"{p}.vec_id" for p in prev)
        parts.append(
            f"c{i} AS (SELECT v.vec_id, v.e, {least} AS md "
            f"FROM v, {', '.join(prev)} WHERE v.vec_id NOT IN ({notin}) "
            "ORDER BY md DESC, v.vec_id LIMIT 1)"
        )
    sel = [
        "SELECT CAST(0 AS BIGINT) AS round, c0.vec_id AS center_id, "
        "CAST(NULL AS BIGINT) AS radius_sq FROM c0"
    ]
    for i in range(1, k):
        sel.append(
            f"SELECT CAST({i} AS BIGINT), c{i}.vec_id, "
            f"CAST(c{i}.md AS BIGINT) FROM c{i}"
        )
    return f"WITH {_SCALED_V}, " + ", ".join(parts) + " " + " UNION ALL ".join(sel)


_KCENTER_SQL = _kcenter_sql(8)


# Shared Lloyd pipeline prefix: 2 unrolled iterations ending in the
# final per-point assignment CTE ``af`` (vec_id, cell, sq) — consumed
# by both the summary entry and the cluster-balanced sampler.
_KM_AF_PREFIX = (
    f"WITH {_SCALED_V}, "
    "cent0 AS (SELECT vec_id AS cell, e AS ce, "
    "CAST(list_sum([x * x for x in e]) AS BIGINT) AS cn2 FROM "
    "(SELECT vec_id, e FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8)), "
    + _km_assign_cte("cent0", "a1") + ", "
    "s1 AS (SELECT cell, generate_subscripts(e, 1) AS dim, unnest(e) AS vv FROM a1), "
    "g1 AS (SELECT cell, dim, SUM(vv) AS s, COUNT(*) AS nm FROM s1 GROUP BY cell, dim), "
    "cent1 AS (SELECT cell, list(CAST((s + 10000 * nm) // nm - 10000 AS BIGINT) "
    "ORDER BY dim) AS ce FROM g1 GROUP BY cell), "
    "cent1n AS (SELECT cell, ce, CAST(list_sum([x * x for x in ce]) AS BIGINT) AS cn2 "
    "FROM cent1), "
    + _km_assign_cte("cent1n", "a2") + ", "
    "s2 AS (SELECT cell, generate_subscripts(e, 1) AS dim, unnest(e) AS vv FROM a2), "
    "g2 AS (SELECT cell, dim, SUM(vv) AS s, COUNT(*) AS nm FROM s2 GROUP BY cell, dim), "
    "cent2 AS (SELECT cell, list(CAST((s + 10000 * nm) // nm - 10000 AS BIGINT) "
    "ORDER BY dim) AS ce FROM g2 GROUP BY cell), "
    "cent2n AS (SELECT cell, ce, CAST(list_sum([x * x for x in ce]) AS BIGINT) AS cn2 "
    "FROM cent2), "
    + _km_assign_cte("cent2n", "af")
)


# Lloyd k-means, 2 unrolled iterations: md5-medoid seeds -> assign ->
# integer floor-mean recenter -> assign -> recenter -> final assign;
# summary is (cell, n_members, inertia) with exact bigint inertia.
_KMEANS_LLOYD_SQL = (
    _KM_AF_PREFIX
    + " SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members, "
    "CAST(SUM(sq) AS BIGINT) AS inertia FROM af GROUP BY cell"
)


def _cluster_sample_fn(spark, sf_dir):
    return S.cluster_balanced_sample(_embs(spark, sf_dir), per_cell=16, k=8)


# Cluster-balanced selection: md5-ranked top-16 per Lloyd cell.
_CLUSTER_SAMPLE_SQL = (
    _KM_AF_PREFIX
    + ", rk AS (SELECT cell, vec_id, CAST(ROW_NUMBER() OVER "
    "(PARTITION BY cell ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) "
    "AS BIGINT) AS rank FROM af) "
    "SELECT cell, vec_id, rank FROM rk WHERE rank <= 16"
)


# Product quantization (deterministic md5-medoid codebooks, shared by
# emb_pq_codes and knn_pq_adc): 8 subspaces x 8 dims, 16 centroids per
# subspace = the subvectors of the 16 smallest-md5(id) corpus vectors;
# assignment/lookup are exact integer squared L2 with cid ties.
_PQ_SUB = 8
_PQ_CENTS = 16
_PQ_SUBDIM = 8  # 64 dims / 8 subspaces
_PQ_SQ = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    "p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
)
_PQ_BASE = (
    f"{_SCALED_V}, "
    f"med AS (SELECT vec_id AS cid, e FROM v "
    f"ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_PQ_CENTS}), "
    f"ss AS (SELECT unnest(range(0, {_PQ_SUB})) AS s), "
    f"cb AS (SELECT s, cid, e[(s*{_PQ_SUBDIM}+1):(s*{_PQ_SUBDIM}+{_PQ_SUBDIM})] "
    "AS csub FROM med, ss), "
    f"sub AS (SELECT vec_id, s, e[(s*{_PQ_SUBDIM}+1):(s*{_PQ_SUBDIM}+{_PQ_SUBDIM})] "
    "AS sub FROM v, ss), "
    "dist AS (SELECT sub.vec_id, sub.s, cb.cid, "
    + _PQ_SQ.format(a="sub.sub", b="cb.csub")
    + " AS sq FROM sub JOIN cb ON cb.s = sub.s), "
    "asg AS (SELECT vec_id, s, cid, sq, ROW_NUMBER() OVER "
    "(PARTITION BY vec_id, s ORDER BY sq, cid) AS rn FROM dist)"
)
_PQ_CODES_SQL = (
    f"WITH {_PQ_BASE} "
    "SELECT vec_id, CAST(s AS BIGINT) AS s, cid AS code, sq AS sub_sqdist "
    "FROM asg WHERE rn = 1"
)
_PQ_ADC_SQL = (
    f"WITH {_PQ_BASE}, "
    "codes AS (SELECT vec_id AS match_id, s, cid AS code FROM asg WHERE rn = 1), "
    "lut AS (SELECT sub.vec_id AS query_id, sub.s, cb.cid, "
    + _PQ_SQ.format(a="sub.sub", b="cb.csub")
    + " AS lsq FROM sub JOIN cb ON cb.s = sub.s WHERE sub.vec_id < 5), "
    "tot AS (SELECT l.query_id, c.match_id, SUM(l.lsq) AS total "
    "FROM codes c JOIN lut l ON l.s = c.s AND l.cid = c.code "
    "WHERE l.query_id <> c.match_id GROUP BY 1, 2) "
    "SELECT query_id, match_id, "
    "sqrt(CAST(total AS DOUBLE)) / 1000.0 AS adc_dist, rank "
    "FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id "
    "ORDER BY total, match_id) AS rank FROM tot) WHERE rank <= 10"
)


def _pq_codes_fn(spark, sf_dir):
    return S.pq_codes(_embs(spark, sf_dir))


def _pq_adc_fn(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return S.pq_adc_topk(e.filter(F.col("vec_id") < 5), e, k=10)


def _pq_rerank_fn(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return S.pq_rerank_topk(e.filter(F.col("vec_id") < 5), e, k=10, expand=4)


_PQ_CELL_CAP = 200  # scale guardrail: bands denser than this are skipped


def _pq_blocked_fn(spark, sf_dir):
    return S.pq_blocked_dup_pairs(
        _embs(spark, sf_dir), threshold=0.4, cell_cap=_PQ_CELL_CAP
    )


# PQ funnel: ADC nominates 40 candidates per query (codes-only scan),
# exact integer squared L2 re-ranks them to the final 10.
_PQ_RERANK_SQL = (
    f"WITH {_PQ_BASE}, "
    "codes AS (SELECT vec_id AS match_id, s, cid AS code FROM asg WHERE rn = 1), "
    "lut AS (SELECT sub.vec_id AS query_id, sub.s, cb.cid, "
    + _PQ_SQ.format(a="sub.sub", b="cb.csub")
    + " AS lsq FROM sub JOIN cb ON cb.s = sub.s WHERE sub.vec_id < 5), "
    "tot AS (SELECT l.query_id, c.match_id, SUM(l.lsq) AS total "
    "FROM codes c JOIN lut l ON l.s = c.s AND l.cid = c.code "
    "WHERE l.query_id <> c.match_id GROUP BY 1, 2), "
    "cand AS (SELECT query_id, match_id FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY query_id ORDER BY total, match_id) AS rn FROM tot) "
    "WHERE rn <= 40), "
    "re AS (SELECT cand.query_id, cand.match_id, "
    "nq.nn + nc.nn - 2 * CAST(list_sum(list_transform(list_zip(vq.e, vc.e), "
    "p -> p[1] * p[2])) AS BIGINT) AS sq "
    "FROM cand JOIN v vq ON vq.vec_id = cand.query_id "
    "JOIN v vc ON vc.vec_id = cand.match_id "
    "JOIN nrm nq ON nq.vec_id = cand.query_id "
    "JOIN nrm nc ON nc.vec_id = cand.match_id) "
    "SELECT query_id, match_id, sqrt(CAST(sq AS DOUBLE)) / 1000.0 "
    "AS euclidean_dist, rank FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY query_id ORDER BY sq, match_id) AS rank FROM re) "
    "WHERE rank <= 10"
)

# Banded PQ-code blocking: each (subspace, code) is a band key;
# pairs sharing any band are candidates (bands denser than the cell
# cap skipped — the linearity guardrail), exact integer cosine verifies.
_PQ_BLOCKED_SQL = (
    f"WITH {_PQ_BASE}, "
    "codes0 AS (SELECT vec_id, s, cid AS code FROM asg WHERE rn = 1), "
    "keep AS (SELECT s, code FROM (SELECT s, code, COUNT(*) AS n "
    f"FROM codes0 GROUP BY 1, 2) WHERE n <= {_PQ_CELL_CAP}), "
    "codes AS (SELECT codes0.* FROM codes0 JOIN keep "
    "ON keep.s = codes0.s AND keep.code = codes0.code), "
    "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b "
    "FROM codes a JOIN codes b ON a.s = b.s AND a.code = b.code "
    "AND a.vec_id < b.vec_id), "
    "p AS (SELECT cand.id_a, cand.id_b, "
    "CAST(CAST(list_sum(list_transform(list_zip(va.e, vb.e), "
    "x -> x[1] * x[2])) AS BIGINT) AS DOUBLE) "
    "/ sqrt(CAST(na.nn * nb.nn AS DOUBLE)) AS cosine "
    "FROM cand JOIN v va ON va.vec_id = cand.id_a "
    "JOIN v vb ON vb.vec_id = cand.id_b "
    "JOIN nrm na ON na.vec_id = cand.id_a "
    "JOIN nrm nb ON nb.vec_id = cand.id_b) "
    "SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.4"
)


_KNN_LSH_SQL = (
    f"WITH {_SCALED_V}, "
    f"bk AS (SELECT vec_id, CAST({_BUCKET} AS BIGINT) AS bucket FROM embeddings), "
    "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS match_id, "
    + _COS.format(a="qv", b="cv")
    + " AS cosine "
    "FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id < 5 AND q.vec_id <> c.vec_id "
    "JOIN v qv ON qv.vec_id = q.vec_id JOIN v cv ON cv.vec_id = c.vec_id "
    "JOIN nrm na ON na.vec_id = q.vec_id JOIN nrm nb ON nb.vec_id = c.vec_id) "
    "SELECT query_id, match_id, cosine, rank FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rank FROM scored) "
    "WHERE rank <= 5"
)

_TEXT_TOKENS_SQL = (
    f"WITH {_TOK} SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, "
    "CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq_tokens FROM tok"
)

_BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"
_TEXT_BPE_SQL = (
    f"WITH {_TOK}, b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words, "
    "CAST(len(regexp_extract_all(text, '" + _BPE_RE.replace("'", "''") + "')) AS BIGINT) "
    "AS n_bpe_tokens FROM documents JOIN tok USING (doc_id)) "
    "SELECT doc_id, n_words, n_bpe_tokens, "
    "CAST(n_bpe_tokens AS DOUBLE) / CAST(GREATEST(n_words, 1) AS DOUBLE) AS tokens_per_word "
    "FROM b"
)

# BPE merge-step statistic at vocabulary grain: word counts first (the
# corpus reduces to its distinct vocabulary), THEN character-pair
# explosion weighted by the word count. All-integer; the top-20 cutoff
# tie breaks on the pair string, so the selected set is deterministic.
_TEXT_BPE_PAIRS_SQL = (
    f"WITH {_TOK}, w AS (SELECT unnest(toks) AS w FROM tok), "
    "wc AS (SELECT w, COUNT(*) AS n FROM w GROUP BY 1), "
    "pr AS (SELECT w, n, unnest(generate_series(1, length(w)-1)) AS i "
    "FROM wc WHERE length(w) >= 2) "
    "SELECT pair, n_occ FROM ("
    "SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, "
    "CAST(SUM(n) AS BIGINT) AS n_occ FROM pr GROUP BY 1 "
    "ORDER BY n_occ DESC, pair LIMIT 20)"
)

# Tokenizer fertility per language: integer token sums, one division
# of exact bigints (bit-stable across engines); CAST SUM AS BIGINT
# (HUGEINT rule).
_TEXT_FERTILITY_SQL = (
    "WITH b AS (SELECT lang, "
    "CAST(len(list_filter(string_split_regex(trim(regexp_replace("
    "lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS BIGINT) AS w, "
    "CAST(len(regexp_extract_all(text, '" + _BPE_RE.replace("'", "''") + "')) AS BIGINT) AS b "
    "FROM documents) "
    "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS n_words, "
    "CAST(SUM(b) AS BIGINT) AS n_bpe_tokens, "
    "CAST(SUM(b) AS DOUBLE) / CAST(GREATEST(SUM(w), 1) AS DOUBLE) AS fertility "
    "FROM b GROUP BY lang"
)

_EN_LIST = "['the','a','of','and','to','in','is','it','that','for']"
_TEXT_QUALITY_SQL = (
    f"WITH {_TOK}, d AS (SELECT doc_id, toks, text FROM tok JOIN documents USING (doc_id)) "
    "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
    "CAST(len(toks) AS BIGINT) AS n_tokens, "
    "CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) "
    "/ CAST(GREATEST(length(text), 1) AS DOUBLE) AS punct_ratio, "
    f"CAST(len(list_filter(toks, x -> list_contains({_EN_LIST}, x))) AS DOUBLE) "
    "/ CAST(GREATEST(len(toks), 1) AS DOUBLE) AS stopword_ratio, "
    "CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(GREATEST(len(toks), 1) AS DOUBLE) AS uniq_ratio "
    "FROM d"
)

# Flesch–Kincaid grade from three in-row counts (words = shared token
# definition; sentences = .!? runs floored at 1; syllable proxy =
# vowel-group runs). The grade is a fixed three-term double expression
# evaluated in the same order by both engines.
_TEXT_READABILITY_SQL = (
    f"WITH {_TOK}, d AS (SELECT doc_id, toks, text FROM tok JOIN documents USING (doc_id)), "
    "c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words, "
    "CAST(GREATEST(length(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences, "
    "CAST(length(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables "
    "FROM d) "
    "SELECT doc_id, n_words, n_sentences, n_syllables, "
    "CASE WHEN n_words > 0 THEN "
    "0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) "
    "+ 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) "
    "- 15.59 END AS fk_grade FROM c"
)

# Zipf slope over the top-100 term frequencies: integer-scaled lns
# (round(ln·1e6), the LM convention), exact integer co-moment sums, one
# final double division.
_TEXT_ZIPF_SQL = (
    f"WITH {_TOK}, tt AS (SELECT unnest(toks) AS term FROM tok), "
    "c AS (SELECT term, COUNT(*) AS cnt FROM tt GROUP BY 1), "
    "top AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 100), "
    "r AS (SELECT CAST(round(ln(ROW_NUMBER() OVER (ORDER BY cnt DESC, term)) * 1e6) "
    "AS BIGINT) AS x, CAST(round(ln(cnt) * 1e6) AS BIGINT) AS y FROM top), "
    "a AS (SELECT COUNT(*) AS n_terms, SUM(x) AS sx, SUM(y) AS sy, "
    "SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM r) "
    "SELECT CAST(n_terms AS BIGINT) AS n_terms, "
    "CAST(n_terms * sxy - sx * sy AS DOUBLE) / "
    "CAST(n_terms * sxx - sx * sx AS DOUBLE) AS zipf_slope "
    "FROM a WHERE n_terms >= 2"
)

# Unigram JSD between md5 halves: ln args are exact integer ratios,
# contributions accumulate as bigint (cnt · round(ln·1e6)) sums, three
# fixed-order float ops at the end. Zero counts contribute exactly 0.
_TEXT_JSD_SQL = (
    f"WITH {_TOK}, "
    "tt AS (SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' "
    "THEN 'a' ELSE 'b' END AS half, unnest(toks) AS term FROM tok), "
    "per AS (SELECT term, "
    "SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS ca, "
    "SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS cb FROM tt GROUP BY 1), "
    "tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM per), "
    "terms AS (SELECT per.*, tot.na, tot.nb, "
    "CAST(per.ca * tot.nb + per.cb * tot.na AS BIGINT) AS denom FROM per, tot), "
    "s AS (SELECT COUNT(*) AS n_terms, MAX(na) AS n_a, MAX(nb) AS n_b, "
    "SUM(CASE WHEN ca > 0 THEN ca * CAST(round(ln(CAST(2 * ca * nb AS DOUBLE) "
    "/ CAST(denom AS DOUBLE)) * 1e6) AS BIGINT) ELSE 0 END) AS sa, "
    "SUM(CASE WHEN cb > 0 THEN cb * CAST(round(ln(CAST(2 * cb * na AS DOUBLE) "
    "/ CAST(denom AS DOUBLE)) * 1e6) AS BIGINT) ELSE 0 END) AS sb FROM terms) "
    "SELECT CAST(n_terms AS BIGINT) AS n_terms, CAST(n_a AS BIGINT) AS n_a, "
    "CAST(n_b AS BIGINT) AS n_b, "
    "0.5 * (CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) "
    "+ CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)) / 1e6 AS jsd "
    "FROM s WHERE n_a > 0 AND n_b > 0"
)

_LANG_LISTS = {
    "en": _EN_LIST,
    "fr": "['le','la','de','et','les','des','un','une','est','que']",
    "de": "['der','die','das','und','ist','nicht','ein','eine','zu','mit']",
    "es": "['el','la','de','y','los','que','un','una','es','en']",
}
_HITS = ", ".join(
    f"CAST(len(list_filter(toks, x -> list_contains({lst}, x))) AS BIGINT) AS hits_{lang}"
    for lang, lst in _LANG_LISTS.items()
)
# nested CASE in lexicographic order reproduces the argmax tie-break
_PRED = (
    "CASE WHEN GREATEST(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und' "
    "WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de' "
    "WHEN hits_en >= hits_es AND hits_en >= hits_fr THEN 'en' "
    "WHEN hits_es >= hits_fr THEN 'es' ELSE 'fr' END"
)
_TEXT_LANGID_SQL = (
    f"WITH {_TOK}, h AS (SELECT doc_id, {_HITS} FROM tok) "
    f"SELECT doc_id, hits_en, hits_fr, hits_de, hits_es, {_PRED} AS pred_lang FROM h"
)

# Gopher-style repetition: bigram mode via (doc, bigram) counts, trigram
# dup fraction as (total-distinct)/total; docs with <2 tokens emit no
# row, docs with exactly 2 have no trigrams → 0.0 (LEFT JOIN/COALESCE).
_TEXT_REP_SQL = (
    f"WITH {_TOK}, {_T}, "
    "bgp AS (SELECT a.doc_id, a.tok || '_' || b.tok AS bg "
    "FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1), "
    "bgc AS (SELECT doc_id, bg, COUNT(*) AS n FROM bgp GROUP BY 1, 2), "
    "bga AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams, "
    "CAST(MAX(n) AS BIGINT) AS top_bigram_n FROM bgc GROUP BY doc_id), "
    "tgp AS (SELECT a.doc_id, a.tok || '_' || b.tok || '_' || c.tok AS tg "
    "FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
    "JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2), "
    "tga AS (SELECT doc_id, COUNT(*) AS total, COUNT(DISTINCT tg) AS dis "
    "FROM tgp GROUP BY doc_id) "
    "SELECT b.doc_id, b.n_bigrams, b.top_bigram_n, "
    "CAST(b.top_bigram_n AS DOUBLE) / CAST(b.n_bigrams AS DOUBLE) AS top_bigram_frac, "
    "COALESCE(CAST(t.total - t.dis AS DOUBLE) / CAST(t.total AS DOUBLE), 0.0) "
    "AS dup_trigram_frac "
    "FROM bga b LEFT JOIN tga t USING (doc_id)"
)

_TEXT_FP_SQL = (
    f"{_BASE_SH}, km AS (SELECT doc_id, "
    "md5(array_to_string(list_sort(list(md5(s)))[1:4], '')) AS kmin_fp "
    "FROM sh GROUP BY doc_id) "
    "SELECT d.doc_id, md5(trim(regexp_replace(lower(d.text), '[^a-z0-9]+', ' ', 'g'))) AS exact_fp, "
    "COALESCE(km.kmin_fp, md5('')) AS kmin_fp "
    "FROM documents d LEFT JOIN km ON km.doc_id = d.doc_id"
)

# thresholds mirror T.quality_filter defaults
_QUALITY_FILTER_SQL = (
    f"WITH {_TOK}, d AS (SELECT doc_id, toks, text FROM tok JOIN documents USING (doc_id)), "
    "f AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, "
    "CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) "
    "/ CAST(GREATEST(length(text), 1) AS DOUBLE) AS punct_ratio, "
    f"CAST(len(list_filter(toks, x -> list_contains({_EN_LIST}, x))) AS DOUBLE) "
    "/ CAST(GREATEST(len(toks), 1) AS DOUBLE) AS stopword_ratio, "
    "CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(GREATEST(len(toks), 1) AS DOUBLE) AS uniq_ratio "
    "FROM d) "
    "SELECT doc_id FROM f WHERE n_tokens >= 5 AND punct_ratio <= 0.3 "
    "AND stopword_ratio >= 0.01 AND uniq_ratio >= 0.3"
)

_STREAM_DEDUP_SQL = (
    "SELECT DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) "
    "AS content_hash FROM documents"
)

_MM_META_SQL = (
    "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len, "
    "md5(text) AS checksum, 'application/octet-stream' AS mime FROM documents"
)

# The decode stub's fake features are pure functions of the payload
# bytes, so the mapInPandas plumbing gets a real value-hash oracle:
# mean_byte sums UTF-8 bytes via hex-pair parsing ('0x'||pair casts),
# mode_guess is the octet-vs-codepoint length test (equal iff ASCII —
# same predicate as "any byte > 127" on UTF-8).
_MM_DECODE_SQL = (
    "WITH b AS (SELECT doc_id, encode(text) AS p, "
    "octet_length(encode(text)) AS bl, length(text) AS cl, text "
    "FROM documents) "
    "SELECT doc_id, CAST(bl AS BIGINT) AS byte_len, md5(text) AS checksum, "
    "CASE WHEN bl = cl THEN 'ascii' ELSE 'binary' END AS mode_guess, "
    "CAST(COALESCE(list_aggregate(list_transform(range(1, bl + 1), "
    "i -> CAST('0x' || substr(hex(p), 2*i - 1, 2) AS INTEGER)), 'sum'), 0) "
    "AS DOUBLE) / GREATEST(bl, 1) AS mean_byte, "
    "CAST(GREATEST(1, bl // 64) AS BIGINT) AS frames FROM b"
)


# --- array higher-order functions over embeddings -------------------------
# transform/filter/aggregate/sort/slice on the vector column, all on the
# integer-scaled representation so arithmetic is bit-exact cross-engine.

def _array_hof_fn(spark, sf_dir):
    emb = _embs(spark, sf_dir)
    scaled = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("bigint"),
    )
    e = emb.withColumn("e", scaled)
    top = F.slice(F.sort_array("e", asc=False), 1, 3)
    return e.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("n_dims"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("bigint").alias("n_pos"),
        F.aggregate(
            "e", F.lit(0).cast("bigint"), lambda acc, x: acc + F.abs(x)
        ).alias("l1_milli"),
        top.getItem(0).alias("top1"),
        top.getItem(1).alias("top2"),
        top.getItem(2).alias("top3"),
    )


_ARRAY_HOF_SQL = """
WITH v AS (
  SELECT vec_id, embedding,
         [CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) for x in embedding] AS e
  FROM embeddings
),
s AS (SELECT vec_id, embedding, e, list_reverse_sort(e) AS srt FROM v)
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS n_dims,
       CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
       CAST(list_sum([abs(x) for x in e]) AS BIGINT) AS l1_milli,
       srt[1] AS top1, srt[2] AS top2, srt[3] AS top3
FROM s
"""


# --- end-to-end curation: quality → exact dedup → near-dup → split --------

def _curate_fn(spark, sf_dir):
    from ..operators.curate import curate_corpus

    return curate_corpus(_docs(spark, sf_dir))


# --- corpus stats per source ----------------------------------------------

def _corpus_stats_fn(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


_CORPUS_STATS_SQL = """
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM documents GROUP BY source
"""


# --- embedding centroids per label (posexplode + integer-scaled sums) -----

def _centroid_fn(spark, sf_dir):
    emb = _embs(spark, sf_dir)
    e = emb.select(
        "label",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast(
                    "bigint"
                ),
            )
        ).alias("dim", "milli"),
    )
    return e.groupBy(
        F.col("label").cast("bigint").alias("label"),
        F.col("dim").cast("bigint").alias("dim"),
    ).agg(
        F.sum("milli").alias("sum_milli"),
        F.count("*").alias("n"),
        (F.sum("milli").cast("double") / F.count("*") / F.lit(1000.0)).alias(
            "centroid"
        ),
    )


_CENTROID_SQL = """
WITH v AS (
  SELECT label, [CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) for x in embedding] AS e
  FROM embeddings
),
u AS (SELECT label, generate_subscripts(e, 1) - 1 AS dim, unnest(e) AS milli FROM v)
SELECT CAST(label AS BIGINT) AS label, dim,
       CAST(SUM(milli) AS BIGINT) AS sum_milli, COUNT(*) AS n,
       CAST(SUM(milli) AS DOUBLE) / COUNT(*) / 1000.0 AS centroid
FROM u GROUP BY label, dim
"""


def _centroid_drift_fn(spark, sf_dir):
    return S.centroid_drift(_embs(spark, sf_dir))


# Per-label centroid drift between md5 halves: cosine is scale-
# invariant, so it is computed on exact integer SUM vectors — the one
# division is the only float op.
_CENTROID_DRIFT_SQL = """
WITH v AS (
  SELECT CAST(label AS BIGINT) AS label,
         CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'
              THEN 'a' ELSE 'b' END AS half,
         [CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) for x in embedding] AS e
  FROM embeddings
),
c AS (SELECT label, half, COUNT(*) AS n FROM v GROUP BY 1, 2),
u AS (SELECT label, half, generate_subscripts(e, 1) - 1 AS dim, unnest(e) AS milli FROM v),
s AS (SELECT label, half, dim, SUM(milli) AS s FROM u GROUP BY 1, 2, 3),
j AS (SELECT a.label, SUM(a.s * b.s) AS dot, SUM(a.s * a.s) AS na, SUM(b.s * b.s) AS nb
      FROM s a JOIN s b ON a.label = b.label AND a.dim = b.dim
      AND a.half = 'a' AND b.half = 'b' GROUP BY 1)
SELECT j.label, ca.n AS n_a, cb.n AS n_b,
       CAST(j.dot AS DOUBLE) / sqrt(CAST(j.na * j.nb AS DOUBLE)) AS drift_cosine
FROM j
JOIN c ca ON ca.label = j.label AND ca.half = 'a'
JOIN c cb ON cb.label = j.label AND cb.half = 'b'
"""


# --- deterministic hash split (reproducible train/val sampling) -----------
# Split membership = first two hex chars of md5(doc_id): content-stable,
# engine-independent, and rerunnable on any cluster size — the pattern
# for reproducible dataset splits at 100 TB (no rand(), no seed drift).

def _sample_split_fn(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return docs.select(
        "doc_id",
        F.when(h2 < "e6", "train").otherwise("val").alias("split"),
    )


_SAMPLE_SPLIT_SQL = """
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
            THEN 'train' ELSE 'val' END AS split
FROM documents
"""


# End-to-end curation oracle: same stage chain as curate_corpus, each
# stage the same SQL as its standalone oracle, composed over CTEs.
_CURATE_SQL = (
    f"WITH {_TOK}, {_T}, "
    "d AS (SELECT doc_id, toks, text FROM tok JOIN documents USING (doc_id)), "
    "f AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, "
    "CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) "
    "/ CAST(GREATEST(length(text), 1) AS DOUBLE) AS punct_ratio, "
    f"CAST(len(list_filter(toks, x -> list_contains({_EN_LIST}, x))) AS DOUBLE) "
    "/ CAST(GREATEST(len(toks), 1) AS DOUBLE) AS stopword_ratio, "
    "CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(GREATEST(len(toks), 1) AS DOUBLE) AS uniq_ratio "
    "FROM d), "
    "q AS (SELECT doc_id FROM f WHERE n_tokens >= 5 AND punct_ratio <= 0.3 "
    "AND stopword_ratio >= 0.01 AND uniq_ratio >= 0.3), "
    "dq AS (SELECT documents.doc_id, text FROM documents JOIN q USING (doc_id)), "
    "e AS (SELECT MIN(doc_id) AS doc_id FROM dq "
    "GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))), "
    "dt AS (SELECT DISTINCT t.doc_id, t.tok FROM t JOIN e USING (doc_id)), "
    f"votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM dt GROUP BY doc_id), "
    f"fp AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM votes), "
    "k2 AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY simhash) "
    "SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' "
    "THEN 'train' ELSE 'val' END AS split FROM k2"
)




def _text_clean_fn(spark, sf_dir):
    # raw: map-only, shuffle-free by contract (plan-pinned)
    return T.clean_html(_docs_raw(spark, sf_dir))


# Same op order as operators/text.py::clean_html: tags -> entities
# (&amp; decoded last) -> whitespace collapse -> trim.
_TEXT_CLEAN_SQL = (
    "WITH c AS (SELECT doc_id, trim(regexp_replace("
    "replace(replace(replace(replace(replace(replace("
    "regexp_replace(text, '<[^>]*>', ' ', 'g'), "
    "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''), "
    "'&nbsp;', ' '), '&amp;', '&'), "
    "'\\s+', ' ', 'g')) AS text FROM documents) "
    "SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars FROM c"
)


def _text_pii_fn(spark, sf_dir):
    # raw: map-only, shuffle-free by contract (plan-pinned)
    return T.pii_mask(_docs_raw(spark, sf_dir))


_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_NUM = "[0-9]{7,}"

_TEXT_PII_SQL = (
    "SELECT doc_id, regexp_replace(regexp_replace(text, "
    f"'{_PII_EMAIL}', '<EMAIL>', 'g'), '{_PII_NUM}', '<NUM>', 'g') AS text, "
    f"CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails, "
    f"CAST(len(regexp_extract_all(text, '{_PII_NUM}')) AS BIGINT) AS n_longnums "
    "FROM documents"
)


def _text_collocations_fn(spark, sf_dir):
    # threshold 1.3 fits the fixture's near-random word soup (scores
    # cluster at ~1.0 = independence, max ~1.45); real corpora put
    # true phrases 10-100x above independence
    # raw: vocab-grain op, spread exchange lost in A/B
    return T.collocations(_docs_raw(spark, sf_dir), threshold=1.3)


# word2vec phrase score (Mikolov '13 eq. 6): all counts exact; the
# score is HUGEINT products (Spark: decimal(38)) with ONE final double
# division, so both engines round the same exact integers once.
_TEXT_COLLO_SQL = (
    f"WITH {_TOK}, {_T}, "
    "uni AS (SELECT tok AS term, COUNT(*) AS n FROM t GROUP BY tok), "
    "tot AS (SELECT COUNT(*) AS n_total FROM t), "
    "bi AS (SELECT a.tok AS term_a, b.tok AS term_b, COUNT(*) AS n_ab "
    "FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
    "GROUP BY 1, 2 HAVING COUNT(*) >= 3), "
    "s AS (SELECT bi.term_a, bi.term_b, bi.n_ab, ua.n AS n_a, ub.n AS n_b, "
    "CAST(CAST(bi.n_ab - 3 AS HUGEINT) * t2.n_total AS DOUBLE) / "
    "CAST(CAST(ua.n AS HUGEINT) * ub.n AS DOUBLE) AS score "
    "FROM bi JOIN uni ua ON ua.term = bi.term_a "
    "JOIN uni ub ON ub.term = bi.term_b, tot t2) "
    "SELECT term_a, term_b, CAST(n_ab AS BIGINT) AS n_ab, "
    "CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, score "
    "FROM s WHERE score >= 1.3"
)


def _text_script_mix_fn(spark, sf_dir):
    return T.script_mix(_docs(spark, sf_dir))


def _scr(pat: str) -> str:
    return f"length(text) - length(regexp_replace(text, '{pat}', '', 'g'))"


# explicit ASCII ranges (no unicode property classes) so RE2 and Java
# regex agree byte-for-byte; each ratio is one double division of
# exact integer counts.
_SCR_ALPHA = _scr("[A-Za-z]")
_SCR_DIGIT = _scr("[0-9]")
_SCR_SPACE = _scr("[ \\t\\n\\r]")
_SCR_PUNCT = _scr("[!-/:-@\\[-`{-~]")
_TEXT_SCRIPT_MIX_SQL = (
    "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
    f"CAST({_SCR_ALPHA} AS DOUBLE) / length(text) AS alpha_ratio, "
    f"CAST({_SCR_DIGIT} AS DOUBLE) / length(text) AS digit_ratio, "
    f"CAST({_SCR_SPACE} AS DOUBLE) / length(text) AS space_ratio, "
    f"CAST({_SCR_PUNCT} AS DOUBLE) / length(text) AS punct_ratio, "
    f"CAST(length(text) - ({_SCR_ALPHA}) - ({_SCR_DIGIT}) "
    f"- ({_SCR_SPACE}) - ({_SCR_PUNCT}) AS DOUBLE) "
    "/ length(text) AS other_ratio "
    "FROM documents WHERE length(text) > 0"
)


def _text_top_terms_fn(spark, sf_dir):
    return T.top_terms(_docs(spark, sf_dir))


# rel-freq score tf/df: one exact-integer double division -- no
# transcendental whose last ulp could differ between runtimes.
_TEXT_TOP_TERMS_SQL = (
    f"WITH {_TOK}, tt AS (SELECT doc_id, unnest(toks) AS term FROM tok), "
    "pairs AS (SELECT doc_id, term, COUNT(*) AS tf FROM tt GROUP BY doc_id, term), "
    "d AS (SELECT term, COUNT(*) AS df FROM pairs GROUP BY term), "
    "s AS (SELECT p.doc_id, p.term, p.tf, d.df, "
    "CAST(p.tf AS DOUBLE)/CAST(d.df AS DOUBLE) AS score, "
    "ROW_NUMBER() OVER (PARTITION BY p.doc_id ORDER BY "
    "CAST(p.tf AS DOUBLE)/CAST(d.df AS DOUBLE) DESC, p.term) AS rn "
    "FROM pairs p JOIN d USING (term)) "
    "SELECT doc_id, term, tf, df, score FROM s WHERE rn <= 3"
)




def _emb_quantize_fn(spark, sf_dir):
    q = S.quantize_embeddings(_embs(spark, sf_dir))
    qv = F.col("qvec")
    return q.select(
        "vec_id",
        "scale",
        "n_dims",
        F.aggregate(
            F.transform(qv, lambda v: F.abs(v)),
            F.lit(0).cast("bigint"),
            lambda a, v: a + v,
        ).alias("q_l1"),
        F.aggregate(
            F.transform(qv, lambda v: v * v),
            F.lit(0).cast("bigint"),
            lambda a, v: a + v,
        ).alias("q_dot_self"),
        F.array_min(qv).alias("q_min"),
        F.array_max(qv).alias("q_max"),
    )


# int8 lattice pinned by exact-integer invariants (L1, self-dot,
# extremes) + the float scale; floor(x*127/amax + 0.5) on both engines.
_EMB_QUANTIZE_SQL = (
    "WITH a AS (SELECT vec_id, embedding, "
    "list_max([ABS(CAST(x AS DOUBLE)) for x in embedding]) AS amax FROM embeddings), "
    "q AS (SELECT vec_id, amax, CASE WHEN amax > 0 THEN "
    "[CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT) for x in embedding] "
    "ELSE [CAST(0 AS BIGINT) for x in embedding] END AS qv, "
    "CAST(len(embedding) AS BIGINT) AS n_dims FROM a) "
    "SELECT vec_id, CASE WHEN amax > 0 THEN amax / 127.0 ELSE 0.0 END AS scale, "
    "n_dims, CAST(list_sum([ABS(x) for x in qv]) AS BIGINT) AS q_l1, "
    "CAST(list_sum([x * x for x in qv]) AS BIGINT) AS q_dot_self, "
    "list_min(qv) AS q_min, list_max(qv) AS q_max FROM q"
)




def _token_budget_fn(spark, sf_dir):
    from ..operators.curate import token_budget_sample

    kept = token_budget_sample(_docs(spark, sf_dir), budget_tokens=600)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )


# Deterministic per-source token-budget sampling: md5(doc_id) shuffle
# order, inclusive running sum capped at 600 tokens. Integer arithmetic
# end to end.
_TOKEN_BUDGET_SQL = (
    f"WITH {_TOK}, "
    "w AS (SELECT d.source, d.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens, "
    "md5(CAST(d.doc_id AS VARCHAR)) AS h "
    "FROM documents d JOIN tok t USING (doc_id)), "
    "c AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id "
    "ROWS UNBOUNDED PRECEDING) AS cum FROM w) "
    # CAST AS BIGINT: DuckDB SUM(int)->HUGEINT->pandas float64 breaks
    # the driver's value hash vs Spark's int64 (scripts/dtype_audit.py)
    "SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens "
    "FROM c WHERE cum <= 600 GROUP BY source"
)




def _decontaminate_fn(spark, sf_dir):
    from ..operators.curate import decontaminate

    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    tr = docs.filter(F.col("doc_id") % 50 != 0)
    out = decontaminate(tr, ev)
    return out.select(
        "doc_id", "n_hit_shingles", F.col("contaminated").cast("bigint").alias("contaminated")
    )


# Benchmark decontamination: distinct 3-gram shingles shared with the
# held-out eval slice (doc_id % 50 = 0), broadcast-joined against the
# training corpus' shingles; short docs (< 3 tokens) kept with 0 hits.
_DECONTAMINATE_SQL = (
    f"{_BASE_SH}, "
    "ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0), "
    "hits AS (SELECT sh.doc_id, COUNT(*) AS n_hit_shingles FROM sh "
    "JOIN ev USING (s) WHERE sh.doc_id % 50 <> 0 GROUP BY sh.doc_id) "
    "SELECT d.doc_id, CAST(COALESCE(h.n_hit_shingles, 0) AS BIGINT) AS n_hit_shingles, "
    "CAST(COALESCE(h.n_hit_shingles, 0) > 0 AS BIGINT) AS contaminated "
    "FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id "
    "WHERE d.doc_id % 50 <> 0"
)


def _source_cap_fn(spark, sf_dir):
    from ..operators.curate import source_cap

    return source_cap(_docs(spark, sf_dir), cap=10)


# Per-source cap: md5(doc_id)-ordered deterministic shuffle, keep the
# first 10 per source (web-corpus domain-cap rule).
_SOURCE_CAP_SQL = (
    "WITH w AS (SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h "
    "FROM documents), "
    "r AS (SELECT source, doc_id, ROW_NUMBER() OVER "
    "(PARTITION BY source ORDER BY h, doc_id) AS rk FROM w) "
    "SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 10"
)


def _source_cap_2phase_fn(spark, sf_dir):
    from ..operators.skew import two_phase_cap

    return two_phase_cap(_docs(spark, sf_dir), cap=10)


def _temperature_mix_fn(spark, sf_dir):
    from ..operators.curate import temperature_mix

    return temperature_mix(_docs(spark, sf_dir), n_keep=100)


# alpha=0.5 source mixing: integer weights w = floor(sqrt(cnt*1e6)),
# pure-integer quota arithmetic ceil(n*w/W) = floor((n*w + W - 1)/W)
# (explicit floor: DuckDB's double->int cast rounds, Spark's truncates),
# md5(id)-ordered deterministic fill.
_TEMPERATURE_MIX_SQL = (
    "WITH cnt AS (SELECT source, COUNT(*) AS c FROM documents GROUP BY 1), "
    "wts AS (SELECT source, CAST(floor(sqrt(CAST(c AS DOUBLE) * 1000000.0)) "
    "AS BIGINT) AS w FROM cnt), "
    "tot AS (SELECT SUM(w) AS tw FROM wts), "
    "quota AS (SELECT source, CAST(floor((100 * w + tw - 1) / "
    "CAST(tw AS DOUBLE)) AS BIGINT) AS quota FROM wts CROSS JOIN tot), "
    "ranked AS (SELECT source, doc_id, CAST(ROW_NUMBER() OVER "
    "(PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) "
    "AS BIGINT) AS rk FROM documents) "
    "SELECT r.source, r.doc_id, r.rk, q.quota FROM ranked r "
    "JOIN quota q USING (source) WHERE r.rk <= q.quota"
)


def _containment_decon_fn(spark, sf_dir):
    from ..operators.curate import containment_decontaminate

    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    tr = docs.filter(F.col("doc_id") % 50 != 0)
    return containment_decontaminate(tr, ev, threshold=0.5)


# Containment (|sh(d) ∩ sh(eval)| / |sh(d)|) decontamination over the
# same eval split as corpus_decontaminate; the division is one double
# op on two exact bigints.
_CONTAINMENT_DECON_SQL = (
    f"{_BASE_SH}, "
    "ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0), "
    "tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh "
    "WHERE doc_id % 50 <> 0 GROUP BY 1), "
    "hits AS (SELECT sh.doc_id, COUNT(*) AS n_hit FROM sh JOIN ev USING (s) "
    "WHERE sh.doc_id % 50 <> 0 GROUP BY 1), "
    "j AS (SELECT d.doc_id, "
    "CAST(COALESCE(t.n_shingles, 0) AS BIGINT) AS n_shingles, "
    "CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit "
    "FROM documents d LEFT JOIN tot t ON t.doc_id = d.doc_id "
    "LEFT JOIN hits h ON h.doc_id = d.doc_id WHERE d.doc_id % 50 <> 0) "
    "SELECT doc_id, n_shingles, n_hit, "
    "CASE WHEN n_shingles > 0 THEN CAST(n_hit AS DOUBLE) / n_shingles "
    "ELSE 0.0 END AS containment, "
    "CAST(CASE WHEN n_shingles > 0 THEN CAST(n_hit AS DOUBLE) / n_shingles "
    "ELSE 0.0 END >= 0.5 AS BIGINT) AS contaminated FROM j"
)


def _hash_embed_fn(spark, sf_dir):
    from ..operators.text import hashing_trick_embed

    return hashing_trick_embed(_docs(spark, sf_dir), dim=16)


# Feature-hashing embedding, long form: bucket = int(md5(tok)[:4],16)
# % 16, sign = md5 digit 5 MSB; all 16 dims per tokenful doc (zeros
# kept). Integer weights -> exact hash match.
_HASH_EMBED_SQL = (
    f"WITH {_TOK}, {_T}, dt AS (SELECT DISTINCT doc_id, tok FROM t), "
    "b AS (SELECT doc_id, "
    "CAST('0x' || substr(md5(tok), 1, 4) AS INT) % 16 AS dim_idx, "
    "CASE WHEN substr(md5(tok), 5, 1) BETWEEN '8' AND 'f' THEN 1 ELSE -1 END AS sgn "
    "FROM dt), "
    "w AS (SELECT doc_id, dim_idx, SUM(sgn) AS weight FROM b GROUP BY 1, 2), "
    "dims AS (SELECT unnest(range(16)) AS dim_idx), "
    "docs AS (SELECT DISTINCT doc_id FROM dt) "
    "SELECT d.doc_id, CAST(dims.dim_idx AS BIGINT) AS dim_idx, "
    "CAST(COALESCE(w.weight, 0) AS BIGINT) AS weight "
    "FROM docs d CROSS JOIN dims LEFT JOIN w "
    "ON w.doc_id = d.doc_id AND w.dim_idx = dims.dim_idx"
)


def _bm25_fn(spark, sf_dir):
    from ..operators.text import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), _queries_frame(spark, sf_dir), k=10)


# BM25 top-10 per query (queries = first-5-token prefixes of docs 0-2):
# inverted-index CTE chain, Lucene IDF, identical left-associative
# float expression on both engines, scores rounded to 9 decimals BEFORE
# ranking so 1-ulp ln() differences cannot flip order or hash.
_BM25_SQL = (
    f"WITH {_TOK}, {_T}, "
    "tf AS (SELECT doc_id, tok AS term, COUNT(*) AS tf FROM t GROUP BY 1, 2), "
    "dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1), "
    "stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl), "
    "q AS (SELECT DISTINCT doc_id AS query_id, unnest(toks[1:5]) AS term "
    "FROM tok WHERE doc_id < 3), "
    "hits AS (SELECT q.query_id, tf.doc_id, tf.term, tf.tf FROM tf "
    "JOIN q ON q.term = tf.term), "
    "dft AS (SELECT term, COUNT(DISTINCT doc_id) AS dft FROM hits GROUP BY 1), "
    "scored AS (SELECT h.query_id, h.doc_id, "
    "ln(1.0 + (s.n_docs - d.dft + 0.5) / (d.dft + 0.5)) "
    "* CAST(h.tf AS DOUBLE) * 2.2 / "
    "(CAST(h.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / "
    "(CAST(s.total_len AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))) AS sterm "
    "FROM hits h JOIN dft d USING (term) JOIN dl ON dl.doc_id = h.doc_id "
    "CROSS JOIN stats s), "
    "agg AS (SELECT query_id, doc_id, round(SUM(sterm), 9) AS score "
    "FROM scored GROUP BY 1, 2) "
    "SELECT query_id, doc_id, score, rank FROM (SELECT *, "
    "CAST(ROW_NUMBER() OVER (PARTITION BY query_id "
    "ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM agg) WHERE rank <= 10"
)


def _queries_frame(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(T.tokens("text"), 1, 5)).alias("qtext"),
    )


def _jaccard_topk_fn(spark, sf_dir):
    return T.jaccard_topk(_docs(spark, sf_dir), _queries_frame(spark, sf_dir), k=10)


# Set-overlap retrieval: Jaccard of distinct query terms vs distinct
# doc terms (integer counts; one float division), rank by (jaccard
# desc, doc_id) — tf-free complement of BM25 over the same queries.
_JACCARD_TOPK_SQL = (
    f"WITH {_TOK}, {_T}, "
    "dt AS (SELECT DISTINCT doc_id, tok AS term FROM t), "
    "dsz AS (SELECT doc_id, COUNT(*) AS dsz FROM dt GROUP BY 1), "
    "q AS (SELECT DISTINCT doc_id AS query_id, unnest(toks[1:5]) AS term "
    "FROM tok WHERE doc_id < 3), "
    "qsz AS (SELECT query_id, COUNT(*) AS qsz FROM q GROUP BY 1), "
    "ov AS (SELECT q.query_id, dt.doc_id, COUNT(*) AS ov FROM dt "
    "JOIN q USING (term) GROUP BY 1, 2), "
    "sc AS (SELECT ov.query_id, ov.doc_id, "
    "CAST(ov AS DOUBLE) / CAST(qsz + dsz - ov AS DOUBLE) AS jaccard "
    "FROM ov JOIN qsz USING (query_id) JOIN dsz USING (doc_id)) "
    "SELECT query_id, doc_id, jaccard, rank FROM (SELECT *, "
    "CAST(ROW_NUMBER() OVER (PARTITION BY query_id "
    "ORDER BY jaccard DESC, doc_id) AS BIGINT) AS rank FROM sc) WHERE rank <= 10"
)


def _hybrid_rrf_fn(spark, sf_dir):
    # Composed (not fused): the two rankers re-derive their own postings.
    # A shared-postings fusion with persisted hits/sizes was measured
    # SLOWER at sf0.1 (1.9s vs 1.5s): the persist materialization
    # barriers serialize stages the independent pipelines overlap, and
    # per-consumer column pruning blocks exchange reuse either way.
    from ..operators.text import bm25_topk, jaccard_topk, rrf_fuse

    docs = _docs(spark, sf_dir)
    queries = _queries_frame(spark, sf_dir)
    bm = bm25_topk(docs, queries, k=20)
    jc = jaccard_topk(docs, queries, k=20)
    return rrf_fuse(
        [bm.select("query_id", "doc_id", "rank"), jc.select("query_id", "doc_id", "rank")]
    )


# Reciprocal-rank fusion of BM25 top-20 and Jaccard top-20: each list
# contributes round(1e9/(60+rank)) as an INTEGER, so fused totals are
# order-free bigint sums; final rank by (rrf_e9 desc, doc_id).
_HYBRID_RRF_SQL = (
    f"WITH {_TOK}, {_T}, "
    "tf AS (SELECT doc_id, tok AS term, COUNT(*) AS tf FROM t GROUP BY 1, 2), "
    "dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1), "
    "stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl), "
    "q AS (SELECT DISTINCT doc_id AS query_id, unnest(toks[1:5]) AS term "
    "FROM tok WHERE doc_id < 3), "
    "hits AS (SELECT q.query_id, tf.doc_id, tf.term, tf.tf FROM tf "
    "JOIN q ON q.term = tf.term), "
    "dft AS (SELECT term, COUNT(DISTINCT doc_id) AS dft FROM hits GROUP BY 1), "
    "scored AS (SELECT h.query_id, h.doc_id, "
    "ln(1.0 + (s.n_docs - d.dft + 0.5) / (d.dft + 0.5)) "
    "* CAST(h.tf AS DOUBLE) * 2.2 / "
    "(CAST(h.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / "
    "(CAST(s.total_len AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))) AS sterm "
    "FROM hits h JOIN dft d USING (term) JOIN dl ON dl.doc_id = h.doc_id "
    "CROSS JOIN stats s), "
    "agg AS (SELECT query_id, doc_id, round(SUM(sterm), 9) AS score "
    "FROM scored GROUP BY 1, 2), "
    "bm AS (SELECT query_id, doc_id, rank FROM (SELECT *, "
    "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) "
    "AS rank FROM agg) WHERE rank <= 20), "
    "dt AS (SELECT DISTINCT doc_id, tok AS term FROM t), "
    "dsz AS (SELECT doc_id, COUNT(*) AS dsz FROM dt GROUP BY 1), "
    "qsz AS (SELECT query_id, COUNT(*) AS qsz FROM q GROUP BY 1), "
    "ov AS (SELECT q.query_id, dt.doc_id, COUNT(*) AS ov FROM dt "
    "JOIN q USING (term) GROUP BY 1, 2), "
    "sc AS (SELECT ov.query_id, ov.doc_id, "
    "CAST(ov AS DOUBLE) / CAST(qsz + dsz - ov AS DOUBLE) AS jaccard "
    "FROM ov JOIN qsz USING (query_id) JOIN dsz USING (doc_id)), "
    "jc AS (SELECT query_id, doc_id, rank FROM (SELECT *, "
    "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY jaccard DESC, doc_id) "
    "AS rank FROM sc) WHERE rank <= 20), "
    "u AS (SELECT query_id, doc_id, "
    "CAST(round(1e9 / (60 + rank)) AS BIGINT) AS c FROM bm "
    "UNION ALL SELECT query_id, doc_id, "
    "CAST(round(1e9 / (60 + rank)) AS BIGINT) AS c FROM jc), "
    "f AS (SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS rrf_e9, "
    "COUNT(*) AS n_lists FROM u GROUP BY 1, 2) "
    "SELECT query_id, doc_id, rrf_e9, n_lists, rank FROM (SELECT *, "
    "CAST(ROW_NUMBER() OVER (PARTITION BY query_id "
    "ORDER BY rrf_e9 DESC, doc_id) AS BIGINT) AS rank FROM f) WHERE rank <= 10"
)


def _dedup_report_fn(spark, sf_dir):
    """Per-source duplication report — the summary a curation team runs
    before deciding dedup policy: how many docs, how many distinct
    exact-content groups, how many distinct SimHash near-dup groups,
    and the implied duplicate rates, per source.

    Physical shape: two per-source aggregations joined on the (tiny)
    source key — NOT one multi-countDistinct agg, which would Expand
    every corpus row once per distinct column at 100 TB. All counts are
    integers; the two rates are single exact divisions."""
    from ..operators.dedup import simhash_fingerprint

    docs = _docs(spark, sf_dir)
    exact = docs.select(
        "source", F.md5(T.normalize("text")).alias("__h")
    ).groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("__h").alias("n_exact_distinct"),
    )
    # token-ful docs pre-filtered with the cheap equivalent predicate —
    # a size(__hs) filter above the hash projection would re-inline the
    # md5 transform into the pushed-down predicate (r9 HOF lesson)
    fp_staged = docs.filter(T.normalize("text") != "").select(
        "source",
        F.transform(F.array_distinct(T.tokens("text")), F.md5).alias("__hs"),
    )
    fp = (
        fp_staged
        .select("source", simhash_fingerprint(F.col("__hs")).alias("__fp"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_fp_docs"),
            F.count_distinct("__fp").alias("n_fp_distinct"),
        )
    )
    joined = exact.join(fp, "source", "left")
    rate = lambda a, b: (
        (F.col(a) - F.col(b)).cast("double") / F.col(a).cast("double")
    )
    return joined.select(
        "source",
        "n_docs",
        "n_exact_distinct",
        rate("n_docs", "n_exact_distinct").alias("exact_dup_rate"),
        "n_fp_docs",
        "n_fp_distinct",
        rate("n_fp_docs", "n_fp_distinct").alias("near_dup_rate"),
    )


_DEDUP_REPORT_SQL = (
    f"WITH {_TOK}, {_T}, dt AS (SELECT DISTINCT doc_id, tok FROM t), "
    f"votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM dt GROUP BY doc_id), "
    f"fp AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM votes), "
    "ex AS (SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT "
    "md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) "
    "AS n_exact_distinct FROM documents GROUP BY source), "
    "fs AS (SELECT d.source, COUNT(*) AS n_fp_docs, "
    "COUNT(DISTINCT fp.simhash) AS n_fp_distinct "
    "FROM fp JOIN documents d USING (doc_id) GROUP BY d.source) "
    "SELECT ex.source, ex.n_docs, ex.n_exact_distinct, "
    "CAST(ex.n_docs - ex.n_exact_distinct AS DOUBLE) / CAST(ex.n_docs AS DOUBLE) "
    "AS exact_dup_rate, fs.n_fp_docs, fs.n_fp_distinct, "
    "CAST(fs.n_fp_docs - fs.n_fp_distinct AS DOUBLE) / CAST(fs.n_fp_docs AS DOUBLE) "
    "AS near_dup_rate "
    "FROM ex LEFT JOIN fs USING (source)"
)


def _mm_framesample_fn(spark, sf_dir):
    return M.frame_sample(_docs_raw(spark, sf_dir))


# Uniform strided frame sampler over fake fixed-size frames; md5 of the
# frame slice stands in for decoded pixels (integer index arithmetic +
# char-based substr — bit-exact on both engines).
_MM_FRAMESAMPLE_SQL = (
    "WITH f AS (SELECT doc_id, text, "
    "GREATEST(length(text) // 64, 1) AS nf FROM documents), "
    "e AS (SELECT DISTINCT doc_id, text, (j * nf) // 5 AS frame_idx "
    "FROM f, range(5) AS t(j)) "
    "SELECT doc_id, frame_idx, frame_idx * 250 AS frame_ts_ms, "
    "md5(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_sig "
    "FROM e"
)




def _dup_components_fn(spark, sf_dir):
    return D.dup_components(_docs(spark, sf_dir))


# Transitive closure oracle: doc-doc edges from shared content-hash or
# shared SimHash fp, recursive UNION reachability, component = MIN
# reachable id. (The engine never builds doc-doc pairs — it propagates
# labels through attribute nodes — but the fixpoint is identical.)
_DUP_COMPONENTS_SQL = (
    f"WITH RECURSIVE {_TOK}, {_T}, dt AS (SELECT DISTINCT doc_id, tok FROM t), "
    f"votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM dt GROUP BY doc_id), "
    f"fp AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM votes), "
    "attrs AS (SELECT doc_id, 'h:' || "
    "md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS attr "
    "FROM documents "
    "UNION ALL SELECT doc_id, 's:' || CAST(simhash AS VARCHAR) FROM fp), "
    "edges AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v "
    "FROM attrs a JOIN attrs b ON a.attr = b.attr AND a.doc_id <> b.doc_id), "
    "reach AS (SELECT doc_id AS u, doc_id AS v FROM documents "
    "UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u) "
    "SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u"
)




def _knn_quantized_fn(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return S.quantized_topk(e.filter(F.col("vec_id") < 5), e, k=10)


# int8-quantized search: qv lattice from the emb_quantize CTE, then the
# exact-integer cosine of knn_bruteforce over qv instead of the
# 1000x-scaled vectors. Everything integer until the final division.
_QV = (
    "a AS (SELECT vec_id, embedding, "
    "list_max([ABS(CAST(x AS DOUBLE)) for x in embedding]) AS amax FROM embeddings), "
    "v AS (SELECT vec_id, CASE WHEN amax > 0 THEN "
    "[CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT) for x in embedding] "
    "ELSE [CAST(0 AS BIGINT) for x in embedding] END AS e FROM a), "
    "nrm AS (SELECT vec_id, CAST(list_sum([x * x for x in e]) AS BIGINT) AS nn FROM v)"
)

_KNN_QUANT_SQL = (
    f"WITH {_QV}, "
    "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS match_id, "
    + _COS.format(a="q", b="c")
    + " AS cosine FROM v q JOIN v c ON q.vec_id < 5 AND q.vec_id <> c.vec_id "
    "JOIN nrm na ON na.vec_id = q.vec_id JOIN nrm nb ON nb.vec_id = c.vec_id) "
    "SELECT query_id, match_id, cosine, rank FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rank FROM scored) "
    "WHERE rank <= 10"
)




def _knn_rerank_fn(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return S.rerank_topk(e.filter(F.col("vec_id") < 5), e, k=10, expand=4)


# Two-stage funnel: the int8 lattice (emb_quantize CTE) nominates 40
# candidates per query, the 1000x-scaled exact cosine re-ranks them to
# the final 10. Both stages integer-deterministic with id tiebreaks,
# so the SQL replay is bit-identical.
_KNN_RERANK_SQL = (
    "WITH qa AS (SELECT vec_id, embedding, "
    "list_max([ABS(CAST(x AS DOUBLE)) for x in embedding]) AS amax FROM embeddings), "
    "qv AS (SELECT vec_id, CASE WHEN amax > 0 THEN "
    "[CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT) for x in embedding] "
    "ELSE [CAST(0 AS BIGINT) for x in embedding] END AS e FROM qa), "
    "qn AS (SELECT vec_id, CAST(list_sum([x * x for x in e]) AS BIGINT) AS nn FROM qv), "
    "cand AS (SELECT query_id, match_id FROM ("
    "SELECT q.vec_id AS query_id, c.vec_id AS match_id, ROW_NUMBER() OVER ("
    "PARTITION BY q.vec_id ORDER BY "
    "CAST(CAST(list_sum(list_transform(list_zip(q.e, c.e), p -> p[1] * p[2])) AS BIGINT) "
    "AS DOUBLE) / sqrt(CAST(na.nn * nb.nn AS DOUBLE)) DESC, c.vec_id) AS rn "
    "FROM qv q JOIN qv c ON q.vec_id < 5 AND q.vec_id <> c.vec_id "
    "JOIN qn na ON na.vec_id = q.vec_id JOIN qn nb ON nb.vec_id = c.vec_id"
    ") WHERE rn <= 40), "
    "fv AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) "
    "for x in embedding] AS e FROM embeddings), "
    "fn2 AS (SELECT vec_id, CAST(list_sum([x * x for x in e]) AS BIGINT) AS nn FROM fv), "
    "scored AS (SELECT cd.query_id, cd.match_id, "
    "CAST(CAST(list_sum(list_transform(list_zip(fq.e, fc.e), p -> p[1] * p[2])) AS BIGINT) "
    "AS DOUBLE) / sqrt(CAST(na.nn * nb.nn AS DOUBLE)) AS cosine "
    "FROM cand cd JOIN fv fq ON fq.vec_id = cd.query_id "
    "JOIN fv fc ON fc.vec_id = cd.match_id "
    "JOIN fn2 na ON na.vec_id = cd.query_id JOIN fn2 nb ON nb.vec_id = cd.match_id) "
    "SELECT query_id, match_id, cosine, rank FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rank FROM scored) "
    "WHERE rank <= 10"
)


def _dedup_lev_fn(spark, sf_dir):
    return D.levenshtein_pairs(_docs(spark, sf_dir), max_distance=40)


# SimHash-blocked edit-distance verification: 32-bit fp voting (all
# md5 digits) for high-resolution blocking, pairs within buckets,
# DuckDB's levenshtein == Spark's (classic DP, integer-exact).
_DEDUP_LEV_SQL = (
    f"WITH {_TOK}, {_T}, dt AS (SELECT DISTINCT doc_id, tok FROM t), "
    f"votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM dt GROUP BY doc_id), "
    f"fp AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM votes), "
    "s AS (SELECT fp.doc_id, fp.simhash, d.text FROM fp "
    "JOIN documents d USING (doc_id)), "
    "canon AS (SELECT simhash, MIN(doc_id) AS keep_id FROM s "
    "GROUP BY simhash HAVING COUNT(*) >= 2), "
    "k AS (SELECT c.simhash, c.keep_id, s.text AS ktext FROM canon c "
    "JOIN s ON s.doc_id = c.keep_id) "
    "SELECT k.keep_id, s.doc_id, "
    "CAST(levenshtein(s.text, k.ktext) AS BIGINT) AS distance "
    "FROM s JOIN k USING (simhash) "
    "WHERE s.doc_id <> k.keep_id "
    "AND ABS(length(s.text) - length(k.ktext)) <= 40 "
    "AND levenshtein(s.text, k.ktext) <= 40"
)




def _chunk_dedup_fn(spark, sf_dir):
    return D.chunk_dedup(_docs(spark, sf_dir), chunk_words=3)


# Passage-level exact dedup (Lee et al. 2022 at chunk granularity):
# non-overlapping 3-word passages, corpus-wide first occurrence wins
# (row_number over the passage hash, ordered by doc_id then chunk
# index — deterministic on both engines), docs reassembled from the
# surviving passages in order. Empty reassembly coalesces to ''.
def _chunk_overlap_fn(spark, sf_dir):
    from ..operators.curate import chunk_overlap

    return chunk_overlap(_docs(spark, sf_dir), chunk_words=12, stride_words=8)


# Sliding 12-word windows every 8 words (adjacent chunks share 4
# words); window count = 1 + ceil(max(nw-12,0)/8) so every word lands
# in >= 1 chunk and no empty trailing window emits.
_CHUNK_OVERLAP_SQL = """
WITH s AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
n AS (SELECT doc_id, w, len(w) AS nw FROM s),
c AS (
  SELECT doc_id, gs - 1 AS ci, (gs - 1) * 8 AS start_word,
         list_aggregate(w[(gs-1)*8+1 : (gs-1)*8+12], 'string_agg', ' ') AS chunk
  FROM n, LATERAL (
    SELECT unnest(range(1, 2 + CAST(ceil(GREATEST(nw - 12, 0) / 8.0) AS BIGINT))) AS gs
  )
)
SELECT doc_id, ci, start_word, chunk FROM c
"""


_CHUNK_DEDUP_SQL = """
WITH s AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
c AS (
  SELECT doc_id, gs - 1 AS ci,
         list_aggregate(w[(gs-1)*3+1 : gs*3], 'string_agg', ' ') AS chunk
  FROM s, LATERAL (
    SELECT unnest(range(1, CAST(ceil(len(w) / 3.0) AS BIGINT) + 1)) AS gs
  )
),
f AS (
  SELECT doc_id, ci, chunk,
         CASE WHEN ROW_NUMBER() OVER (
           PARTITION BY md5(chunk) ORDER BY doc_id, ci
         ) = 1 THEN 1 ELSE 0 END AS keep
  FROM c
)
SELECT doc_id, COUNT(*) AS n_chunks, CAST(SUM(keep) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN keep = 1 THEN chunk END, ' ' ORDER BY ci), '')
         AS text_dedup
FROM f GROUP BY doc_id
"""




def _stratified_sample_fn(spark, sf_dir):
    from ..operators.curate import stratified_sample

    return stratified_sample(
        _docs_raw(spark, sf_dir),  # raw: map-only, shuffle-free by contract
        rates={"en": 0.5, "de": 0.8, "fr": 0.8, "es": 0.8},
        default_rate=1.0,
    )


# Deterministic per-stratum sampling: keep iff
# int(md5(doc_id)[:4], 16) / 65536 < rate(lang) — same hash family as
# the train/val split, so both engines agree bit-for-bit.
_STRATIFIED_SAMPLE_SQL = """
SELECT doc_id, lang FROM documents
WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT)
           AS DOUBLE) / 65536.0
      < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.8 WHEN 'fr' THEN 0.8
                  WHEN 'es' THEN 0.8 ELSE 1.0 END
"""


def _weighted_sample_fn(spark, sf_dir):
    from ..operators.curate import weighted_sample

    return weighted_sample(_docs(spark, sf_dir), 100, "n_chars")


# Efraimidis–Spirakis exponential race: u from md5(doc_id) (8 hex
# digits + 0.5 over 2^32 — the stratified_sample hash family), key
# round(ln(u)/n_chars · 1e9) as an exact integer (the LM-scorer
# convention), top-100 by (key desc, doc_id).
_WEIGHTED_SAMPLE_SQL = """
SELECT doc_id, n_chars,
       CAST(round(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                           AS BIGINT) + 0.5) / 4294967296.0)
                  / CAST(n_chars AS DOUBLE) * 1e9) AS BIGINT) AS key_e9
FROM documents
WHERE n_chars > 0
ORDER BY key_e9 DESC, doc_id
LIMIT 100
"""


def _weighted_sample_grouped_fn(spark, sf_dir):
    from ..operators.curate import weighted_sample_grouped

    return weighted_sample_grouped(
        _docs(spark, sf_dir), 20, "n_chars", group_col="source"
    )


# Quota form: 20 weighted winners per source, same race key, ranked by
# a window PARTITIONED on source (per-group sorts only).
_WEIGHTED_SAMPLE_GROUPED_SQL = """
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         CAST(round(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                             AS BIGINT) + 0.5) / 4294967296.0)
                    / CAST(n_chars AS DOUBLE) * 1e9) AS BIGINT) AS key_e9
  FROM documents
  WHERE n_chars > 0
)
SELECT * FROM (
  SELECT source, doc_id, n_chars, key_e9,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY key_e9 DESC, doc_id) AS rk
  FROM keyed
) WHERE rk <= 20
"""


def _random_projection_fn(spark, sf_dir):
    return S.random_projection(_embs(spark, sf_dir), in_dim=64, out_dim=8)


# Signed random projection y_j = sum_i scaled(x_i) * s(i,j),
# s(i,j) = +1 iff the first hex digit of md5(i || '|' || j) is even —
# the projection matrix is re-derived from md5 on both engines, and the
# integer-scaled fold makes the sums order-free exact.
_RANDOM_PROJECTION_SQL = """
WITH e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         unnest(embedding) AS x
  FROM embeddings
),
s AS (
  SELECT vec_id, i,
         CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS xi
  FROM e
)
SELECT vec_id, j,
       CAST(SUM(xi * CASE WHEN strpos('02468ace',
              substr(md5(CAST(i AS VARCHAR) || '|' || CAST(j AS VARCHAR)), 1, 1)
            ) > 0 THEN 1 ELSE -1 END) AS BIGINT) AS y
FROM s, (SELECT unnest(range(0, 8)) AS j)
GROUP BY vec_id, j
"""




def _stream_chunk_dedup_fn(spark, sf_dir):
    """Replay documents as a stream through the watermarked passage
    dedup; survivors = one per distinct passage hash (which doc carried
    it is arrival order, so only the hash is emitted)."""
    import uuid

    from ..operators.dedup import streaming_chunk_dedup

    docs = _docs_stream(spark, sf_dir)
    docs = docs.withColumn(
        "ingest_time", F.timestamp_millis(F.lit(1_700_000_000_000) + F.col("doc_id"))
    )
    out = streaming_chunk_dedup(docs, chunk_words=3).select("chunk_hash")
    name = f"scdedup_{uuid.uuid4().hex[:12]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# First-arrival-wins passage dedup emits exactly the distinct passage
# hashes — the same chunking recurrence as dedup_chunks' oracle.
_STREAM_CHUNK_DEDUP_SQL = """
WITH s AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
c AS (
  SELECT list_aggregate(w[(gs-1)*3+1 : gs*3], 'string_agg', ' ') AS chunk
  FROM s, LATERAL (
    SELECT unnest(range(1, CAST(ceil(len(w) / 3.0) AS BIGINT) + 1)) AS gs
  )
)
SELECT DISTINCT md5(chunk) AS chunk_hash FROM c
"""




def _pack_bins_fn(spark, sf_dir):
    from ..operators.curate import pack_bins

    return pack_bins(_docs(spark, sf_dir), capacity=4096)


# Offset-partitioned sequence packing: the oracle is the naive global
# cumulative sum; the Spark side computes the identical value via the
# distributed two-phase prefix sum (invariant to range-split points).
_PACK_BINS_SQL = """
WITH c AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS size,
         COALESCE(SUM(CAST(n_chars AS BIGINT)) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum
  FROM documents
)
SELECT doc_id, size,
       CAST(floor(cum / 4096.0) AS BIGINT) AS bin_id,
       -- CAST: cum is HUGEINT (window SUM), and HUGEINT % int stays
       -- HUGEINT -> pandas float64 -> driver hash mismatch vs Spark
       -- int64 (scripts/dtype_audit.py)
       CAST(cum % 4096 AS BIGINT) AS offset_in_bin
FROM c
"""


def _shard_manifest_fn(spark, sf_dir):
    from ..operators.curate import shard_manifest

    # raw: one md5 + token count per doc, spread a wash in A/B
    return shard_manifest(_docs_raw(spark, sf_dir), n_shards=16, seed=7)


# Seeded md5 shard split + balance manifest: shard id from the first
# 4 hex digits ('0x'-cast, the text_hash_embed recipe), sort-key
# endpoints as MIN/MAX over the 15-hex-digit 60-bit integer (the
# sketch.py hash-fraction recipe — integer endpoints keep Spark's
# aggregate hash-based); token count is the repo-wide normalize+split
# recipe; CAST SUM AS BIGINT (HUGEINT rule).
_SHARD_MANIFEST_SQL = """
WITH t AS (
  SELECT md5('s7_' || CAST(doc_id AS VARCHAR)) AS h,
         CAST(len(list_filter(string_split_regex(trim(regexp_replace(
           lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> ''))
           AS BIGINT) AS nt,
         CAST(length(text) AS BIGINT) AS nc
  FROM documents
)
SELECT CAST(CAST('0x' || substr(h, 1, 4) AS INT) % 16 AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens,
       CAST(SUM(nc) AS BIGINT) AS n_chars,
       MIN(CAST(('0x' || substr(h, 1, 15)) AS BIGINT)) AS first_key,
       MAX(CAST(('0x' || substr(h, 1, 15)) AS BIGINT)) AS last_key
FROM t GROUP BY 1
"""




def _unigram_lm_fn(spark, sf_dir):
    return T.unigram_logprob(_docs(spark, sf_dir))


def _ppl_deciles_fn(spark, sf_dir):
    """CCNet-style perplexity-partitioned data mix: documents ranked by
    their self-trained unigram-LM per-token NLL and split into exact
    global deciles — the head/middle/tail view quality-based selection
    recipes cut on. The decile assignment uses the distributed
    two-phase global NTILE (`skew.global_ntile`: range repartition →
    per-slice row_number → broadcast offsets), NEVER a single-task
    `Window.orderBy` over the corpus; per-decile totals are order-free
    integer sums (the nll_e9 discipline), the per-token NLL one double
    division."""
    from ..operators.skew import global_ntile

    u = T.unigram_logprob(_docs(spark, sf_dir))
    d = global_ntile(u, ["avg_nll", "doc_id"], 10, tile_col="decile")
    return d.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("n_tokens"),
        F.sum("nll_e9").cast("bigint").alias("nll_e9_total"),
        (
            F.sum("nll_e9").cast("double")
            / F.sum("dl").cast("double")
            / F.lit(1e9)
        ).alias("nll_per_token"),
        F.min("avg_nll").alias("min_avg_nll"),
        F.max("avg_nll").alias("max_avg_nll"),
    )


# Exact global deciles over (avg_nll, doc_id) — ANSI NTILE in the
# oracle, the closed-form two-phase rank on the Spark side (bit-equal
# by construction). Integer-SUM outputs CAST AS BIGINT (HUGEINT rule).
# Composed below, after _UNIGRAM_LM_SQL is defined.
_PPL_DECILES_SQL_TEMPLATE = (
    "SELECT decile, COUNT(*) AS n_docs, "
    "CAST(SUM(dl) AS BIGINT) AS n_tokens, "
    "CAST(SUM(nll_e9) AS BIGINT) AS nll_e9_total, "
    "CAST(SUM(nll_e9) AS DOUBLE) / CAST(SUM(dl) AS DOUBLE) / 1e9 AS nll_per_token, "
    "MIN(avg_nll) AS min_avg_nll, MAX(avg_nll) AS max_avg_nll "
    "FROM (SELECT u.*, NTILE(10) OVER (ORDER BY avg_nll, doc_id) AS decile "
    "FROM ({unigram}) u) GROUP BY decile"
)


# Self-trained unigram LM scoring: per-term ln rounded to 9 decimals and
# integer-scaled BEFORE summation -> order-free bigint totals.
_UNIGRAM_LM_SQL = (
    f"WITH {_TOK}, {_T}, "
    "tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t GROUP BY 1, 2), "
    "cnt AS (SELECT tok, SUM(tf) AS cnt FROM tf GROUP BY 1), "
    "tot AS (SELECT SUM(cnt) AS total FROM cnt), "
    "term AS (SELECT doc_id, tf, "
    "CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1e9) AS BIGINT) AS le9 "
    "FROM tf JOIN cnt USING (tok), tot) "
    "SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl, "
    "CAST(-SUM(le9 * tf) AS BIGINT) AS nll_e9, "
    "round(CAST(-SUM(le9 * tf) AS DOUBLE) / SUM(tf) / 1e9, 9) AS avg_nll "
    "FROM term GROUP BY doc_id"
)

_PPL_DECILES_SQL = _PPL_DECILES_SQL_TEMPLATE.format(unigram=_UNIGRAM_LM_SQL)


def _bigram_lm_fn(spark, sf_dir):
    return T.bigram_logprob(_docs(spark, sf_dir))


# Self-trained bigram LM with Jelinek-Mercer interpolation: p(w2|w1) =
# 0.8*cbg/c1 + (1-0.8)*cu/T. The (1-lam) literal is repr(1.0 - 0.8) so
# both engines multiply by the identical float64; per-bigram ln rounded
# to 9 decimals and integer-scaled BEFORE summation -> order-free
# bigint totals (same discipline as the unigram entry).
_BIGRAM_LM_SQL = (
    f"WITH {_TOK}, {_T}, "
    "bg AS (SELECT a.doc_id, a.tok || '_' || b.tok AS bg "
    "FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1), "
    "tf AS (SELECT doc_id, bg, COUNT(*) AS tf FROM bg GROUP BY 1, 2), "
    "cbg AS (SELECT bg, SUM(tf) AS cbg FROM tf GROUP BY 1), "
    "c1 AS (SELECT split_part(bg, '_', 1) AS w1, SUM(cbg) AS c1 FROM cbg GROUP BY 1), "
    "cu AS (SELECT tok, COUNT(*) AS cu FROM t GROUP BY 1), "
    "tot AS (SELECT SUM(cu) AS total FROM cu), "
    "term AS (SELECT tf.doc_id, tf.tf, "
    "CAST(round(ln(0.8 * (CAST(cbg.cbg AS DOUBLE) / CAST(c1.c1 AS DOUBLE)) + "
    f"{1.0 - 0.8!r} * (CAST(cu.cu AS DOUBLE) / CAST(tot.total AS DOUBLE))) * 1e9) "
    "AS BIGINT) AS le9 "
    "FROM tf JOIN cbg USING (bg) "
    "JOIN c1 ON split_part(tf.bg, '_', 1) = c1.w1 "
    "JOIN cu ON split_part(tf.bg, '_', 2) = cu.tok, tot) "
    "SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams, "
    "CAST(-SUM(le9 * tf) AS BIGINT) AS nll_e9, "
    "round(CAST(-SUM(le9 * tf) AS DOUBLE) / SUM(tf) / 1e9, 9) AS avg_nll "
    "FROM term GROUP BY doc_id"
)


# --- r6 additions ---------------------------------------------------------


def _knn_range_fn(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return S.range_search(e.filter(F.col("vec_id") < 5), e, threshold=0.25)


# Radius search: same exact integer-scaled cosine as the brute oracle,
# but a pure filter — no ranked window anywhere (the Spark plan is a
# map-only broadcast join, the scalable "fixed similarity bar" mode).
_KNN_RANGE_SQL = (
    f"WITH {_SCALED_V}, "
    "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS match_id, "
    + _COS.format(a="q", b="c")
    + " AS cosine FROM v q JOIN v c ON q.vec_id < 5 AND q.vec_id <> c.vec_id "
    "JOIN nrm na ON na.vec_id = q.vec_id JOIN nrm nb ON nb.vec_id = c.vec_id) "
    "SELECT query_id, match_id, cosine FROM scored WHERE cosine >= 0.25"
)


def _emb_whiten_fn(spark, sf_dir):
    return S.whiten_dims(_embs(spark, sf_dir)).filter(F.col("vec_id") < 50)


# Diagonal whitening: z = (x*n - S1)/sqrt(n*S2 - S1^2) — exact bigint
# moments over the integer-scaled corpus, one double division, so the
# z-scores are bit-identical across engines. Output bounded to the
# first 50 vectors (stats still computed over the full corpus).
_EMB_WHITEN_SQL = (
    f"WITH {_SCALED_V}, "
    "ex AS (SELECT vec_id, CAST(generate_subscripts(e, 1) - 1 AS BIGINT) AS dim, "
    "unnest(e) AS x FROM v), "
    "st AS (SELECT dim, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s1, "
    "CAST(SUM(x * x) AS BIGINT) AS s2 FROM ex GROUP BY dim) "
    "SELECT ex.vec_id, ex.dim, "
    "CAST(CAST(ex.x * st.n - st.s1 AS BIGINT) AS DOUBLE) / "
    "sqrt(CAST(CAST(st.n * st.s2 - st.s1 * st.s1 AS BIGINT) AS DOUBLE)) AS z "
    "FROM ex JOIN st USING (dim) WHERE ex.vec_id < 50"
)


def _semantic_cells_fn(spark, sf_dir):
    return S.semantic_dedup_cells(_embs(spark, sf_dir), threshold=0.4)


# SemDeDup cell-blocked semantic near-dup pairs: md5-medoid cells with
# the r9 two-level assignment mirror (shared CTEs), md5-ranked cell_cap
# guardrail, exact integer cosine verify within cells only.
_SEMANTIC_CELLS_SQL = (
    f"WITH {_SCALED_V}, {_IVF2_ASSIGN_CTES}, "
    "cap AS (SELECT vec_id, e, nn, cell FROM ("
    "SELECT asg.*, ROW_NUMBER() OVER (PARTITION BY cell "
    "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS crn FROM asg) "
    "WHERE crn <= 512), "
    "scored AS (SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b, "
    "CAST(CAST(list_sum(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2])) "
    "AS BIGINT) AS DOUBLE) / sqrt(CAST(a.nn * b.nn AS DOUBLE)) AS cosine "
    "FROM cap a JOIN cap b ON a.cell = b.cell AND a.vec_id < b.vec_id) "
    "SELECT cell, id_a, id_b, cosine FROM scored WHERE cosine >= 0.4"
)


def _ngram_spans_fn(spark, sf_dir):
    return D.duplicated_ngram_spans(_docs(spark, sf_dir), n=8, min_docs=2)


# Rolling 8-gram duplicated-span detection (Lee et al. 2022 exact-
# substring signal): DISTINCT per-doc windows (mirrors shingles()'s
# array_distinct), vocabulary-grain doc-frequency agg, df >= 2.
_NGRAM_SPANS_SQL = (
    f"WITH {_TOK}, "
    "w AS (SELECT DISTINCT doc_id, "
    "md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], '_')) AS gram_hash "
    "FROM tok, LATERAL (SELECT unnest(range(1, len(toks) - 8 + 2)) AS i)) "
    "SELECT gram_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id "
    "FROM w GROUP BY gram_hash HAVING COUNT(*) >= 2"
)


def _span_removal_fn(spark, sf_dir):
    return D.remove_duplicated_spans(_docs(spark, sf_dir), n=8, min_docs=2)


# Lee et al. 2022 exact-substring REMOVAL: every rolling 8-gram
# occurrence (all positions, not distinct) in a non-keeper doc covers
# its 8 token positions; surviving tokens re-join in position order.
# Doc grain preserved: short docs pass through, empty docs emit ''.
_SPAN_REMOVAL_SQL = (
    f"WITH {_TOK}, "
    "t AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM tok), "
    "w AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, "
    "md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], '_')) AS gh "
    "FROM tok, LATERAL (SELECT unnest(range(1, len(toks) - 8 + 2)) AS i) "
    "WHERE len(toks) >= 8), "
    "dup AS (SELECT gh, MIN(doc_id) AS keep_id FROM "
    "(SELECT DISTINCT doc_id, gh FROM w) GROUP BY gh HAVING COUNT(*) >= 2), "
    "cov AS (SELECT DISTINCT w.doc_id, w.pos + j AS pos "
    "FROM w JOIN dup USING (gh), LATERAL (SELECT unnest(range(8)) AS j) "
    "WHERE w.doc_id <> dup.keep_id), "
    "kept AS (SELECT t.doc_id, t.pos, t.tok FROM t "
    "LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.pos = t.pos "
    "WHERE cov.doc_id IS NULL) "
    "SELECT tok.doc_id, CAST(len(tok.toks) AS BIGINT) AS n_tokens, "
    "CAST(len(tok.toks) - COUNT(kept.tok) AS BIGINT) AS n_removed, "
    "COALESCE(string_agg(kept.tok, ' ' ORDER BY kept.pos), '') AS text_dedup "
    "FROM tok LEFT JOIN kept USING (doc_id) GROUP BY tok.doc_id, len(tok.toks)"
)


def _knn_binary_fn(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return S.binary_hamming_topk(e.filter(F.col("vec_id") < 5), e, k=10)


def _knn_binary_rerank_fn(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return S.binary_rerank_topk(e.filter(F.col("vec_id") < 5), e, k=10, expand=4)


# 1-bit sign quantization: dim 32w+j packs bit j of word w (32 bits
# per bigint word — every term ≤ 2^31, exact in bigint and float64).
_BINARY_WORDS = (
    "bw AS (SELECT vec_id, list_transform(range(CAST(ceil(len(embedding) / 32.0) AS INT)), "
    "w -> CAST(COALESCE(list_sum(list_transform(range(32), "
    "j -> CASE WHEN COALESCE(embedding[w * 32 + j + 1] > 0.0, FALSE) "
    "THEN CAST(pow(2.0, j) AS BIGINT) ELSE 0 END)), 0) AS BIGINT)) AS wds FROM embeddings)"
)

_HAMMING_PAIRS = (
    "h AS (SELECT q.vec_id AS query_id, c.vec_id AS match_id, "
    "CAST(list_sum(list_transform(list_zip(q.wds, c.wds), "
    "p -> bit_count(xor(p[1], p[2])))) AS BIGINT) AS hamming "
    "FROM bw q JOIN bw c ON q.vec_id < 5 AND q.vec_id <> c.vec_id)"
)

_KNN_BINARY_SQL = (
    f"WITH {_BINARY_WORDS}, {_HAMMING_PAIRS}, "
    "r AS (SELECT query_id, match_id, hamming, CAST(ROW_NUMBER() OVER ("
    "PARTITION BY query_id ORDER BY hamming, match_id) AS BIGINT) AS rank FROM h) "
    "SELECT query_id, match_id, hamming, rank FROM r WHERE rank <= 10"
)

# Binary-then-exact funnel: 40 Hamming nominees per query, exact
# integer-scaled cosine re-rank to the final 10.
_KNN_BINARY_RERANK_SQL = (
    f"WITH {_BINARY_WORDS}, {_HAMMING_PAIRS}, "
    "cand AS (SELECT query_id, match_id FROM ("
    "SELECT query_id, match_id, ROW_NUMBER() OVER ("
    "PARTITION BY query_id ORDER BY hamming, match_id) AS hrn FROM h) WHERE hrn <= 40), "
    f"{_SCALED_V}, "
    "scored AS (SELECT cand.query_id, cand.match_id, "
    + _COS.format(a="q", b="c")
    + " AS cosine FROM cand JOIN v q ON q.vec_id = cand.query_id "
    "JOIN v c ON c.vec_id = cand.match_id "
    "JOIN nrm na ON na.vec_id = cand.query_id "
    "JOIN nrm nb ON nb.vec_id = cand.match_id), "
    "r AS (SELECT query_id, match_id, cosine, CAST(ROW_NUMBER() OVER ("
    "PARTITION BY query_id ORDER BY cosine DESC, match_id) AS BIGINT) AS rank FROM scored) "
    "SELECT query_id, match_id, cosine, rank FROM r WHERE rank <= 10"
)


def _gopher_fn(spark, sf_dir):
    return T.gopher_quality(_docs(spark, sf_dir))


# Gopher Table-A1 rules: every metric is a ratio of exact integers
# (one division each — bit-identical across engines). The fixture has
# no '#'/bullets/ellipses, so those ratios are exact zeros — the rules
# still compute and gate (word count / word length / stopwords do the
# discriminating on this corpus).
_GOPHER_SQL = (
    f"WITH {_TOK}, "
    "base AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_words, "
    "GREATEST(len(toks), 1) AS d_words, "
    "COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS sum_len, "
    "len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha "
    "FROM tok), "
    "raw AS (SELECT doc_id, "
    "length(text) - length(replace(text, '#', '')) AS n_hash, "
    "(length(text) - length(replace(text, '...', ''))) / 3 AS n_ell, "
    "string_split(text, chr(10)) AS lines FROM documents), "
    "lin AS (SELECT doc_id, GREATEST(len(lines), 1) AS n_lines, "
    "len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%' OR l LIKE '•%')) AS n_bullet, "
    "len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…')) AS n_ell_line, "
    "n_hash, n_ell FROM raw), "
    "m AS (SELECT base.doc_id, n_words, "
    "CAST(sum_len AS DOUBLE) / d_words AS mean_word_len, "
    "CAST(n_hash + n_ell AS DOUBLE) / d_words AS symbol_ratio, "
    "CAST(n_bullet AS DOUBLE) / n_lines AS bullet_frac, "
    "CAST(n_ell_line AS DOUBLE) / n_lines AS ellipsis_frac, "
    "CAST(n_alpha AS DOUBLE) / d_words AS alpha_frac, "
    "CAST((CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END) + "
    "(CASE WHEN list_contains(toks, 'be') THEN 1 ELSE 0 END) + "
    "(CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END) + "
    "(CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END) + "
    "(CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END) + "
    "(CASE WHEN list_contains(toks, 'that') THEN 1 ELSE 0 END) + "
    "(CASE WHEN list_contains(toks, 'have') THEN 1 ELSE 0 END) + "
    "(CASE WHEN list_contains(toks, 'with') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits "
    "FROM base JOIN lin USING (doc_id)) "
    "SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac, "
    "ellipsis_frac, alpha_frac, stop_hits, "
    "(n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0 "
    "AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3 "
    "AND alpha_frac >= 0.8 AND stop_hits >= 2) AS gopher_pass FROM m"
)


def _quality_perceptron_fn(spark, sf_dir):
    """r9: MODEL-BASED quality filtering — integer full-batch
    perceptron-loss GD over hashed features + centered count + bias,
    weak labels from the Gopher count/len/symbol window; margins are
    the learned per-doc quality score (0.962 label agreement at
    sf0.01, real confusion matrix — not a majority-class predictor)."""
    from ..operators.text import quality_perceptron

    return quality_perceptron(_docs(spark, sf_dir))


def _qp_epoch_sql(prev: str, cur: str, i: int) -> str:
    """One unrolled mean-update GD epoch against weight CTE ``prev``:
    margins -> misclassified gradient -> w += floor(g*256 / n) via the
    pmod-adjusted truncating division (exact-integer floor)."""
    return (
        f"qm{i} AS (SELECT tr.doc_id, SUM({prev}.wv * tr.x) AS m, "
        f"MIN(tr.y) AS y FROM tr JOIN {prev} USING (dim_idx) GROUP BY 1), "
        f"qg{i} AS (SELECT tr.dim_idx, SUM(tr.y * tr.x) AS g FROM tr "
        f"JOIN qm{i} ON qm{i}.doc_id = tr.doc_id AND qm{i}.y * qm{i}.m <= 0 "
        "GROUP BY 1), "
        f"{cur} AS (SELECT {prev}.dim_idx, {prev}.wv + COALESCE("
        f"CAST((qg{i}.g * 256 - ((qg{i}.g * 256 % qn.n) + qn.n) % qn.n) "
        f"// qn.n AS BIGINT), 0) AS wv "
        f"FROM {prev} LEFT JOIN qg{i} USING (dim_idx) CROSS JOIN qn)"
    )


# Unrolled 4-epoch integer GD mirror: hashing-trick features (the
# _HASH_EMBED_SQL chain) + centered count + bias, Gopher
# count/len/symbol weak labels, and per-epoch margin/gradient/update
# CTEs (the Lloyd / integer-PageRank unrolled-trajectory pattern).
_QP_CTES = (
    f"{_TOK}, {_T}, "
    "dt AS (SELECT DISTINCT doc_id, tok FROM t), "
    "hb AS (SELECT doc_id, "
    "CAST('0x' || substr(md5(tok), 1, 4) AS INT) % 16 AS dim_idx, "
    "CASE WHEN substr(md5(tok), 5, 1) BETWEEN '8' AND 'f' THEN 1 ELSE -1 END "
    "AS sgn FROM dt), "
    "hw AS (SELECT doc_id, dim_idx, SUM(sgn) AS weight FROM hb GROUP BY 1, 2), "
    "dims AS (SELECT unnest(range(16)) AS dim_idx), "
    "cnts AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS c FROM tok "
    "WHERE len(toks) > 0), "
    "qn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(c) // COUNT(*) AS BIGINT) AS cbar FROM cnts), "
    "xl AS (SELECT d.doc_id, CAST(dims.dim_idx AS BIGINT) AS dim_idx, "
    "CAST(COALESCE(hw.weight, 0) AS BIGINT) AS x "
    "FROM cnts d CROSS JOIN dims LEFT JOIN hw "
    "ON hw.doc_id = d.doc_id AND hw.dim_idx = dims.dim_idx "
    "UNION ALL SELECT cnts.doc_id, 16, cnts.c - qn.cbar FROM cnts CROSS JOIN qn "
    "UNION ALL SELECT doc_id, 17, 1 FROM cnts), "
    # weak labels: the Gopher count/len/symbol window (fragments of
    # _GOPHER_SQL, identical float expressions)
    "gbase AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words, "
    "GREATEST(len(toks), 1) AS d_words, "
    "COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS sum_len "
    "FROM tok), "
    "graw AS (SELECT doc_id, "
    "length(text) - length(replace(text, '#', '')) AS n_hash, "
    "(length(text) - length(replace(text, '...', ''))) / 3 AS n_ell "
    "FROM documents), "
    "lab AS (SELECT gbase.doc_id, CASE WHEN n_words BETWEEN 50 AND 100000 "
    "AND CAST(sum_len AS DOUBLE) / d_words BETWEEN 3.0 AND 10.0 "
    "AND CAST(n_hash + n_ell AS DOUBLE) / d_words <= 0.1 "
    "THEN 1 ELSE -1 END AS y FROM gbase JOIN graw USING (doc_id)), "
    "tr AS (SELECT xl.doc_id, xl.dim_idx, xl.x, CAST(lab.y AS BIGINT) AS y "
    "FROM xl JOIN lab USING (doc_id)), "
    # epoch 1 from w = 0: every margin 0 -> all misclassified
    "qg0 AS (SELECT dim_idx, SUM(y * x) AS g FROM tr GROUP BY 1), "
    "qw1 AS (SELECT qg0.dim_idx, "
    "CAST((qg0.g * 256 - ((qg0.g * 256 % qn.n) + qn.n) % qn.n) // qn.n "
    "AS BIGINT) AS wv FROM qg0 CROSS JOIN qn), "
    + _qp_epoch_sql("qw1", "qw2", 2) + ", "
    + _qp_epoch_sql("qw2", "qw3", 3) + ", "
    + _qp_epoch_sql("qw3", "qw4", 4) + ", "
    "fin AS (SELECT tr.doc_id, CAST(SUM(qw4.wv * tr.x) AS BIGINT) AS margin, "
    "MIN(tr.y) AS y FROM tr JOIN qw4 USING (dim_idx) GROUP BY 1)"
)

_QUALITY_PERCEPTRON_SQL = (
    f"WITH {_QP_CTES} "
    "SELECT doc_id, margin, "
    "CAST(CASE WHEN margin > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred, "
    "CAST(y AS BIGINT) AS weak_label, "
    "CAST(CASE WHEN (margin > 0) = (y > 0) THEN 1 ELSE 0 END AS BIGINT) "
    "AS agree FROM fin"
)


def _quality_perceptron_eval_fn(spark, sf_dir):
    """r10 (VERDICT r9 item 6): judge the learned quality filter on
    DETECTION of planted degradation, not on agreement with its own
    weak-label teacher. Both engines plant two corrupted twins of
    every doc with doc_id < 20 and >= 300 chars, in-query and
    deterministically: a GIBBERISH twin (text replaced by
    repeat(md5(text), 8) — one 256-char hex token, the base64-blob
    shape) and a TRUNCATED twin (first 40 chars — the cut-off-document
    shape). The UNMODIFIED trainer runs over corpus + plants; the
    entry emits one row per (clean doc, plant kind) with both margins
    and detected = margin_plant < margin_clean. The oracle replays the
    identical integer trajectory over the planted corpus, and the CI
    gate (test_text.py) requires detected = 1 on every row — planted
    recall 1.0, the dedup_minhash_recall_eval pattern."""
    from ..operators.text import quality_perceptron

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    plantable = docs.filter(
        (F.col("doc_id") < 20) & (F.length("text") >= 300)
    )
    gib = plantable.select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.repeat(F.md5("text"), 8).alias("text"),
    )
    tru = plantable.select(
        (F.col("doc_id") + 4_000_000).alias("doc_id"),
        F.substring("text", 1, 40).alias("text"),
    )
    scored = quality_perceptron(docs.unionByName(gib).unionByName(tru))
    m = scored.select("doc_id", "margin")
    base = (
        plantable.select("doc_id")
        .join(m, "doc_id")
        .select("doc_id", F.col("margin").alias("margin_clean"))
    )
    parts = []
    for kind, off in (("gibberish", 3_000_000), ("truncated", 4_000_000)):
        pm = m.select(
            (F.col("doc_id") - off).alias("doc_id"),
            F.col("margin").alias("margin_plant"),
        )
        parts.append(
            base.join(pm, "doc_id").select(
                "doc_id",
                F.lit(kind).alias("kind"),
                "margin_clean",
                "margin_plant",
                F.when(
                    F.col("margin_plant") < F.col("margin_clean"), F.lit(1)
                )
                .otherwise(F.lit(0))
                .cast("bigint")
                .alias("detected"),
            )
        )
    return parts[0].unionByName(parts[1])


# The full perceptron CTE chain retargeted to the planted corpus
# (every `FROM documents` becomes `FROM docsx`), then the clean-vs-
# plant margin pairing. Margins are bit-exact integers on both
# engines, so `detected` is too.
_QP_EVAL_SQL = (
    "WITH docsx AS (SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 3000000, repeat(md5(text), 8) "
    "FROM documents WHERE doc_id < 20 AND length(text) >= 300 "
    "UNION ALL SELECT doc_id + 4000000, substr(text, 1, 40) "
    "FROM documents WHERE doc_id < 20 AND length(text) >= 300), "
    + _QP_CTES.replace("FROM documents", "FROM docsx")
    + ", pl AS (SELECT doc_id FROM documents "
    "WHERE doc_id < 20 AND length(text) >= 300) "
    "SELECT pl.doc_id, k.kind, c.margin AS margin_clean, "
    "p.margin AS margin_plant, "
    "CAST(CASE WHEN p.margin < c.margin THEN 1 ELSE 0 END AS BIGINT) "
    "AS detected "
    "FROM pl CROSS JOIN (VALUES ('gibberish', 3000000), "
    "('truncated', 4000000)) k(kind, com) "
    "JOIN fin c ON c.doc_id = pl.doc_id "
    "JOIN fin p ON p.doc_id = pl.doc_id + k.com"
)


def _distinct_ngrams_fn(spark, sf_dir):
    return T.distinct_ngram_stats(_docs(spark, sf_dir))


# Distinct-1/distinct-2 diversity per source slice.
_DISTINCT_NGRAMS_SQL = (
    f"WITH {_TOK}, {_T}, "
    "src AS (SELECT doc_id, source FROM documents), "
    "uni AS (SELECT source, 1 AS n, tok AS g FROM t JOIN src USING (doc_id)), "
    "big AS (SELECT source, 2 AS n, a.tok || '_' || b.tok AS g "
    "FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
    "JOIN src ON src.doc_id = a.doc_id), "
    "allng AS (SELECT * FROM uni UNION ALL SELECT * FROM big), "
    "counts AS (SELECT source, n, g, COUNT(*) AS c FROM allng GROUP BY 1, 2, 3) "
    "SELECT source, CAST(n AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS total_ngrams, "
    "CAST(COUNT(*) AS BIGINT) AS distinct_ngrams, "
    "CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS distinct_frac "
    "FROM counts GROUP BY source, n"
)


def _keep_central_fn(spark, sf_dir):
    return D.keep_central(_docs(spark, sf_dir), n_iters=3, max_hamming=_HAM_K)


def _pr_iter_g_sql(prev: str, cur: str) -> str:
    """The centrality iteration over the RENAMED graph CTEs (gedges /
    gdegs) so the composed keeper oracle can also hold the components
    closure's differently-defined `edges` relation."""
    return (
        f"ginf{cur} AS (SELECT e.dst, SUM({prev}.r // d.deg) AS inflow "
        f"FROM gedges e JOIN {prev} ON {prev}.node = e.src "
        "JOIN gdegs d ON d.src = e.src GROUP BY e.dst), "
        f"gr{cur} AS (SELECT n.node, "
        "(CAST(15000000000 AS BIGINT) // (100 * t.N)) + "
        f"(CAST(85 AS BIGINT) * COALESCE(i.inflow, 0) // 100) AS r "
        f"FROM nodes n CROSS JOIN tot t LEFT JOIN ginf{cur} i ON i.dst = n.node)"
    )


# Composition oracle: the dup_components recursive closure + the
# band-capped centrality power iteration share the fingerprint prefix
# (tok/t/dt/votes/fp); the graph CTEs are renamed (gedges/gdegs) to
# coexist with the closure's `edges`; the keeper is the per-component
# (rank_e9 DESC, doc_id) argmax.
_KEEP_CENTRAL_SQL = (
    f"WITH RECURSIVE {_TOK}, {_T}, dt AS (SELECT DISTINCT doc_id, tok FROM t), "
    f"votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM dt GROUP BY doc_id), "
    f"fp AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM votes), "
    # --- components closure (dup_components oracle) ---
    "attrs AS (SELECT doc_id, 'h:' || "
    "md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS attr "
    "FROM documents "
    "UNION ALL SELECT doc_id, 's:' || CAST(simhash AS VARCHAR) FROM fp), "
    "cedges AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v "
    "FROM attrs a JOIN attrs b ON a.attr = b.attr AND a.doc_id <> b.doc_id), "
    "reach AS (SELECT doc_id AS u, doc_id AS v FROM documents "
    "UNION SELECT r.u, e.v FROM reach r JOIN cedges e ON r.v = e.u), "
    "comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u), "
    # --- band-capped centrality (dedup_centrality oracle, renamed) ---
    f"rawband AS ({_HAM_BANDS}), "
    "band AS (SELECT doc_id, simhash, band_id, band_val FROM ("
    "SELECT rawband.*, ROW_NUMBER() OVER (PARTITION BY band_id, band_val "
    "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS bc FROM rawband) "
    "WHERE bc <= 64), "
    "prs AS (SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming "
    "FROM (SELECT DISTINCT a.doc_id AS id_a, "
    "b.doc_id AS id_b, a.simhash AS fa, b.simhash AS fb FROM band a JOIN band b "
    "ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id) "
    f"WHERE bit_count(xor(fa, fb)) <= {_HAM_K}), "
    "alledges AS (SELECT id_a AS src, id_b AS dst, hamming FROM prs "
    "UNION ALL SELECT id_b, id_a, hamming FROM prs), "
    "gedges AS (SELECT src, dst FROM (SELECT src, dst, ROW_NUMBER() OVER ("
    "PARTITION BY src ORDER BY hamming, dst) AS rn FROM alledges) WHERE rn <= 16), "
    "gdegs AS (SELECT src, COUNT(*) AS deg FROM gedges GROUP BY 1), "
    "nodes AS (SELECT doc_id AS node FROM documents), "
    "tot AS (SELECT COUNT(*) AS N FROM nodes), "
    "gr0 AS (SELECT node, CAST(1000000000 AS BIGINT) // t.N AS r "
    "FROM nodes CROSS JOIN tot t), "
    + _pr_iter_g_sql("gr0", "1") + ", "
    + _pr_iter_g_sql("gr1", "2") + ", "
    + _pr_iter_g_sql("gr2", "3") + ", "
    # --- per-component argmax keeper ---
    "joined AS (SELECT comp.component, comp.doc_id, gr3.r AS rank_e9 "
    "FROM comp JOIN gr3 ON gr3.node = comp.doc_id), "
    "ranked AS (SELECT component, doc_id, rank_e9, "
    "ROW_NUMBER() OVER (PARTITION BY component ORDER BY rank_e9 DESC, doc_id) AS rn, "
    "CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_members FROM joined) "
    "SELECT component, doc_id AS keep_id, CAST(rank_e9 AS BIGINT) AS keep_rank_e9, "
    "n_members FROM ranked WHERE rn = 1"
)


def _dsir_raw(spark, sf_dir):
    return _docs(spark, sf_dir).filter(F.col("source") != "src0")


def _dsir_target(spark, sf_dir):
    return _docs(spark, sf_dir).filter(F.col("source") == "src0")


def _dsir_weights_fn(spark, sf_dir):
    from ..operators.curate import dsir_weights

    return dsir_weights(_dsir_raw(spark, sf_dir), _dsir_target(spark, sf_dir))


def _dsir_select_fn(spark, sf_dir):
    from ..operators.curate import dsir_select

    return dsir_select(
        _dsir_raw(spark, sf_dir), _dsir_target(spark, sf_dir), k=100
    )


# DSIR (Xie et al. 2023) hashed-ngram importance weights: target =
# the src0 slice, raw = everything else; 256 md5 buckets over
# unigrams+bigrams, add-1 smoothing; each bucket's two ln terms
# rounded+e9-scaled SEPARATELY so doc totals are order-free bigint
# sums. The bigram CTE uses the positional self-join (engine idiom);
# Spark builds bigrams in-row — same multiset.
_DSIR_COMMON = (
    "rtok AS (SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace("
    "lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS toks "
    "FROM documents WHERE source <> 'src0'), "
    "ttok AS (SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace("
    "lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS toks "
    "FROM documents WHERE source = 'src0'), "
    "rt AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM rtok), "
    "tt AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM ttok), "
    "rfeat AS (SELECT doc_id, tok AS f FROM rt UNION ALL "
    "SELECT a.doc_id, a.tok || '_' || b.tok FROM rt a "
    "JOIN rt b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1), "
    "tfeat AS (SELECT doc_id, tok AS f FROM tt UNION ALL "
    "SELECT a.doc_id, a.tok || '_' || b.tok FROM tt a "
    "JOIN tt b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1), "
    "rb AS (SELECT doc_id, CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % 256 AS bucket, "
    "COUNT(*) AS c FROM rfeat GROUP BY 1, 2), "
    "rcb AS (SELECT bucket, SUM(c) AS rc FROM rb GROUP BY 1), "
    "tcb AS (SELECT CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % 256 AS bucket, "
    "COUNT(*) AS tc FROM tfeat GROUP BY 1), "
    "rtot AS (SELECT SUM(rc) AS R FROM rcb), "
    "ttot AS (SELECT SUM(tc) AS T FROM tcb), "
    "lr AS (SELECT rcb.bucket, "
    "CAST(round(ln((COALESCE(tcb.tc, 0) + 1.0) / (ttot.T + 256.0)) * 1e9) AS BIGINT) "
    "- CAST(round(ln((rcb.rc + 1.0) / (rtot.R + 256.0)) * 1e9) AS BIGINT) AS lr_e9 "
    "FROM rcb LEFT JOIN tcb USING (bucket), rtot, ttot), "
    "wts AS (SELECT rb.doc_id, CAST(SUM(rb.c) AS BIGINT) AS n_feats, "
    "CAST(SUM(rb.c * lr.lr_e9) AS BIGINT) AS logw_e9, "
    "round(CAST(SUM(rb.c * lr.lr_e9) AS DOUBLE) / SUM(rb.c) / 1e9, 9) AS avg_logw "
    "FROM rb JOIN lr USING (bucket) GROUP BY 1)"
)

_DSIR_WEIGHTS_SQL = (
    f"WITH {_DSIR_COMMON} SELECT doc_id, n_feats, logw_e9, avg_logw FROM wts"
)

# Gumbel-top-k resampling over the weights: key = logw_e9 +
# round(-ln(-ln(u))*1e9) with u from md5(doc_id) — the deterministic
# Gumbel-max draw proportional to w, without replacement.
_DSIR_SELECT_SQL = (
    f"WITH {_DSIR_COMMON}, "
    "keyed AS (SELECT doc_id, logw_e9, logw_e9 + CAST(round(-ln(-ln("
    "(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) + 0.5) "
    "/ 4294967296.0)) * 1e9) AS BIGINT) AS key_e9 FROM wts) "
    "SELECT doc_id, logw_e9, key_e9 FROM keyed ORDER BY key_e9 DESC, doc_id LIMIT 100"
)


QUERIES: dict[str, QuerySpec] = {
    # dedup family
    "dedup_exact": QuerySpec(_dedup_exact_fn, _DEDUP_EXACT_SQL),
    # r6: rolling duplicated-span detection (exact-substring signal —
    # catches copied spans at any offset, unlike fixed chunks)
    "dedup_ngram_spans": QuerySpec(_ngram_spans_fn, _NGRAM_SPANS_SQL),
    # r6: the removal step — rewrite docs with duplicated spans cut
    "dedup_span_removal": QuerySpec(_span_removal_fn, _SPAN_REMOVAL_SQL),
    # extension: keep-longest keeper policy (canonicalize on the most
    # complete raw form, not the arbitrary min id)
    "dedup_keep_longest": QuerySpec(_dedup_keep_longest_fn, _DEDUP_KEEP_LONGEST_SQL),
    "dedup_chunks": QuerySpec(_chunk_dedup_fn, _CHUNK_DEDUP_SQL),
    # extension: sliding-window retrieval-context chunking (overlap)
    "corpus_chunk_overlap": QuerySpec(_chunk_overlap_fn, _CHUNK_OVERLAP_SQL),
    # extension: transitive near-dup connected components (attribute
    # label propagation; recursive-closure oracle)
    "dedup_components": QuerySpec(_dup_components_fn, _DUP_COMPONENTS_SQL),
    # extension: SimHash-blocked exact edit-distance verification
    "dedup_levenshtein": QuerySpec(_dedup_lev_fn, _DEDUP_LEV_SQL),
    "dedup_minhash_lsh": QuerySpec(_minhash_fn, _MINHASH_SQL),
    # extension: signature-estimate vs exact Jaccard diagnostics (how
    # to tune k on a real corpus)
    "dedup_minhash_estimate": QuerySpec(_minhash_estimate_fn, _MINHASH_EST_SQL),
    "dedup_simhash": QuerySpec(_simhash_fn, _SIMHASH_SQL),
    # extension: banded Hamming<=k near-dup pairs (pigeonhole bands,
    # exact recall; Manku et al. WWW'07)
    "dedup_simhash_hamming": QuerySpec(_simhash_hamming_fn, _SIMHASH_HAMMING_SQL),
    # r6: integer-exact PageRank centrality over the near-dup graph
    "dedup_centrality": QuerySpec(_dedup_centrality_fn, _DEDUP_CENTRALITY_SQL),
    # r6: the keeper-rule family's fourth member — per-component
    # canonicalization by centrality (components ∘ centrality argmax)
    "dedup_keep_central": QuerySpec(_keep_central_fn, _KEEP_CENTRAL_SQL),
    "dedup_ngram_jaccard": QuerySpec(_ngram_fn, _NGRAM_SQL),
    # extension: df-capped production form of the Jaccard baseline
    "dedup_ngram_jaccard_capped": QuerySpec(_ngram_capped_fn, _NGRAM_CAPPED_SQL),
    # extension: asymmetric partial-dup score (Broder containment) —
    # catches short-doc-embedded-in-host pairs Jaccard under-reports.
    # EXACT BASELINE, measured SUPERLINEAR (sf0.1->sf1 exponent 1.10,
    # SCALE.md): co-occurrence pair volume is quadratic in posting-list
    # length. Named so nobody wires it as the production path — use
    # dedup_containment_capped / _bottomk (sublinear twins) instead.
    "dedup_containment_exact_baseline": QuerySpec(
        _containment_pairs_fn, _CONTAIN_PAIRS_SQL
    ),
    # extension: df-capped WORK bound, but UNBOUNDED emission — the r8
    # scale probe measured exp 1.04 purely from answer volume (the TRUE
    # above-threshold pair count grows quadratically under replication).
    # Named so nobody wires it as the production path — use
    # dedup_containment_topk (same df cap + per-doc top-k emission
    # bound) instead.
    "dedup_containment_capped_unbounded": QuerySpec(
        _containment_capped_fn, _CONTAIN_CAPPED_SQL
    ),
    # r9: the emission-bounded production form — df-capped postings for
    # the work bound, per-doc top-k ranked cut for the output bound
    # (≤ N·k rows by contract, like the bottom-k twin)
    "dedup_containment_topk": QuerySpec(
        _containment_topk_fn, _CONTAIN_TOPK_SQL
    ),
    # extension: bottom-k sampled containment estimate (directional;
    # candidate volume cut by |H|/k vs the exact join)
    "dedup_containment_bottomk": QuerySpec(
        _containment_bottomk_fn, _CONTAIN_BOTTOMK_SQL
    ),
    "dedup_embedding": QuerySpec(_emb_dup_fn, _EMB_DUP_SQL),
    # similarity search
    "knn_bruteforce": QuerySpec(_knn_brute_fn, _KNN_BRUTE_SQL),
    # r7: bit-deterministic fixed-iteration Lloyd k-means
    "emb_kmeans_lloyd": QuerySpec(_kmeans_lloyd_fn, _KMEANS_LLOYD_SQL),
    # r7: cluster-balanced selection over the Lloyd labels
    "emb_cluster_sample": QuerySpec(_cluster_sample_fn, _CLUSTER_SAMPLE_SQL),
    # r7: greedy k-center coreset (diversity-maximizing selection)
    "corpus_kcenter_coreset": QuerySpec(_kcenter_fn, _KCENTER_SQL),
    # r7: mutual-kNN graph (hubness-robust clustering substrate)
    "knn_mutual_neighbors": QuerySpec(_knn_mutual_fn, _KNN_MUTUAL_SQL),
    # r7: kNN majority-vote label probe (embedding-quality eval)
    "emb_knn_classify": QuerySpec(_knn_classify_fn, _KNN_CLASSIFY_SQL),
    # extension: brute-force search over the int8-quantized lattice
    "knn_quantized": QuerySpec(_knn_quantized_fn, _KNN_QUANT_SQL),
    # extension: two-stage retrieval (quantized candidates -> exact
    # full-precision re-rank)
    "knn_rerank": QuerySpec(_knn_rerank_fn, _KNN_RERANK_SQL),
    # extension: Matryoshka prefix-truncated search (retrieve cheap,
    # re-rank at full width)
    "knn_matryoshka": QuerySpec(_knn_matryoshka_fn, _KNN_MATRYOSHKA_SQL),
    "knn_lsh_bucket": QuerySpec(_knn_lsh_fn, _KNN_LSH_SQL),
    "knn_ivf": QuerySpec(_knn_ivf_fn, _KNN_IVF_SQL),
    # r6: radius search (fixed similarity bar; no window — map-only)
    "knn_range_search": QuerySpec(_knn_range_fn, _KNN_RANGE_SQL),
    # r6: 1-bit sign quantization — Hamming top-k and the
    # binary-then-exact funnel
    "knn_binary_hamming": QuerySpec(_knn_binary_fn, _KNN_BINARY_SQL),
    "knn_binary_rerank": QuerySpec(_knn_binary_rerank_fn, _KNN_BINARY_RERANK_SQL),
    # r6: SemDeDup cell-blocked semantic near-dup pairs
    "dedup_semantic_cells": QuerySpec(_semantic_cells_fn, _SEMANTIC_CELLS_SQL),
    # r6: per-dimension diagonal whitening (exact-integer z-scores)
    "emb_whiten": QuerySpec(_emb_whiten_fn, _EMB_WHITEN_SQL),
    # r5: product quantization — codes (long form), ADC search, the
    # ADC->exact funnel, and code-tuple blocked near-dup pairs
    "emb_pq_codes": QuerySpec(_pq_codes_fn, _PQ_CODES_SQL),
    "knn_pq_adc": QuerySpec(_pq_adc_fn, _PQ_ADC_SQL),
    "knn_pq_rerank": QuerySpec(_pq_rerank_fn, _PQ_RERANK_SQL),
    "dedup_pq_blocked": QuerySpec(_pq_blocked_fn, _PQ_BLOCKED_SQL),
    # extension: contrastive hard-negative mining (different-label top-k)
    "knn_hard_negatives": QuerySpec(_hard_negatives_fn, _HARD_NEG_SQL),
    # text analysis
    "text_tokens": QuerySpec(_text_tokens_fn, _TEXT_TOKENS_SQL),
    "text_bpe_tokens": QuerySpec(_text_bpe_fn, _TEXT_BPE_SQL),
    "text_bpe_pairs": QuerySpec(_text_bpe_pairs_fn, _TEXT_BPE_PAIRS_SQL),
    "text_fertility_by_lang": QuerySpec(_text_fertility_fn, _TEXT_FERTILITY_SQL),
    "text_quality": QuerySpec(_text_quality_fn, _TEXT_QUALITY_SQL),
    # extension: Flesch–Kincaid grade (dictionary-free syllable proxy)
    "text_readability": QuerySpec(_text_readability_fn, _TEXT_READABILITY_SQL),
    # extension: Zipf-slope corpus-health monitor
    "text_zipf": QuerySpec(_text_zipf_fn, _TEXT_ZIPF_SQL),
    # extension: unigram JSD drift between md5 halves (lexical twin of
    # emb_centroid_drift)
    "text_unigram_jsd": QuerySpec(_text_jsd_fn, _TEXT_JSD_SQL),
    "text_quality_filter": QuerySpec(_quality_filter_fn, _QUALITY_FILTER_SQL),
    "dedup_exact_streaming": QuerySpec(_stream_dedup_fn, _STREAM_DEDUP_SQL),
    "dedup_chunks_streaming": QuerySpec(_stream_chunk_dedup_fn, _STREAM_CHUNK_DEDUP_SQL),
    # r9: the MinHash-LSH tier's streaming twin — arriving docs probe a
    # persisted batch LSH index (stream-static band join), one
    # watermarked alert per flagged doc
    "dedup_minhash_streaming": QuerySpec(
        _stream_minhash_dedup_fn, _STREAM_MINHASH_SQL
    ),
    "dedup_simhash_streaming": QuerySpec(
        _stream_simhash_dedup_fn, _STREAM_SIMHASH_DEDUP_SQL
    ),
    # r5: the embedding sibling of the streaming near-dup guard
    "dedup_embedding_streaming": QuerySpec(
        _stream_embedding_dedup_fn, _STREAM_EMB_DEDUP_SQL
    ),
    "stream_quality_filter": QuerySpec(_stream_quality_fn, _QUALITY_FILTER_SQL),
    "text_langid": QuerySpec(_text_langid_fn, _TEXT_LANGID_SQL),
    "text_fingerprint": QuerySpec(_text_fp_fn, _TEXT_FP_SQL),
    "text_repetition": QuerySpec(_text_rep_fn, _TEXT_REP_SQL),
    # r6: the full Gopher Table-A1 rule set + distinct-n diversity
    "text_gopher_rules": QuerySpec(_gopher_fn, _GOPHER_SQL),
    "corpus_distinct_ngrams": QuerySpec(_distinct_ngrams_fn, _DISTINCT_NGRAMS_SQL),
    # extension: C4-style markup cleaning (per-row regex chain)
    "text_clean_html": QuerySpec(_text_clean_fn, _TEXT_CLEAN_SQL),
    # extension: PII masking + masked-entity counts (engine-portable regex subset)
    "text_pii_mask": QuerySpec(_text_pii_fn, _TEXT_PII_SQL),
    # extension: per-doc top-k salient terms by rel-freq tf/df
    "text_top_terms": QuerySpec(_text_top_terms_fn, _TEXT_TOP_TERMS_SQL),
    # r7: word2vec phrase-detection score over adjacent bigrams
    "text_collocations": QuerySpec(_text_collocations_fn, _TEXT_COLLO_SQL),
    # r7: per-doc ASCII character-class composition (multilingual QC)
    "text_script_mix": QuerySpec(_text_script_mix_fn, _TEXT_SCRIPT_MIX_SQL),
    "q_array_hof": QuerySpec(_array_hof_fn, _ARRAY_HOF_SQL),
    # extension: symmetric int8 embedding quantization (in-row HOFs)
    "emb_quantize": QuerySpec(_emb_quantize_fn, _EMB_QUANTIZE_SQL),
    "corpus_curate_e2e": QuerySpec(_curate_fn, _CURATE_SQL),
    "corpus_stats": QuerySpec(_corpus_stats_fn, _CORPUS_STATS_SQL),
    "emb_centroid": QuerySpec(_centroid_fn, _CENTROID_SQL),
    # extension: per-label centroid drift between deterministic halves
    # (embedding-ops go/no-go monitor; exact integer-sum cosine)
    "emb_centroid_drift": QuerySpec(_centroid_drift_fn, _CENTROID_DRIFT_SQL),
    "corpus_sample_split": QuerySpec(_sample_split_fn, _SAMPLE_SPLIT_SQL),
    "corpus_stratified_sample": QuerySpec(_stratified_sample_fn, _STRATIFIED_SAMPLE_SQL),
    # extension: Efraimidis–Spirakis weighted sampling without
    # replacement (length-proportional annotation/eval draws)
    "corpus_weighted_sample": QuerySpec(_weighted_sample_fn, _WEIGHTED_SAMPLE_SQL),
    # extension: per-source quota draws (weighted, without replacement)
    "corpus_weighted_sample_grouped": QuerySpec(
        _weighted_sample_grouped_fn, _WEIGHTED_SAMPLE_GROUPED_SQL
    ),
    # extension: marginal n-gram novelty (coverage-driven data selection)
    "corpus_ngram_novelty": QuerySpec(_ngram_novelty_fn, _NGRAM_NOVELTY_SQL),
    # r6: DSIR hashed-ngram importance weights + Gumbel-top-k resampling
    "corpus_dsir_weights": QuerySpec(_dsir_weights_fn, _DSIR_WEIGHTS_SQL),
    "corpus_dsir_select": QuerySpec(_dsir_select_fn, _DSIR_SELECT_SQL),
    # extension: cumulative distinct-shingle coverage curve
    "corpus_coverage_curve": QuerySpec(_coverage_curve_fn, _COVERAGE_CURVE_SQL),
    # extension: cross-source duplication matrix (mirror detection)
    "corpus_source_overlap": QuerySpec(_source_overlap_fn, _SOURCE_OVERLAP_SQL),
    # extension: near-dup cluster-size histogram (dedup yield predictor)
    "dedup_cluster_sizes": QuerySpec(_cluster_sizes_fn, _CLUSTER_SIZES_SQL),
    # extension: quality-keeper near-dup canonicalization (keep the
    # most fluent copy under the corpus's own unigram LM)
    "dedup_keep_best": QuerySpec(_keep_best_fn, _KEEP_BEST_SQL),
    # extension: per-language corpus composition report
    "corpus_language_mix": QuerySpec(_language_mix_fn, _LANGUAGE_MIX_SQL),
    "emb_random_projection": QuerySpec(_random_projection_fn, _RANDOM_PROJECTION_SQL),
    # extension: per-source token-budget sampling (data mixing)
    "corpus_token_budget": QuerySpec(_token_budget_fn, _TOKEN_BUDGET_SQL),
    "corpus_pack_bins": QuerySpec(_pack_bins_fn, _PACK_BINS_SQL),
    "corpus_shard_manifest": QuerySpec(_shard_manifest_fn, _SHARD_MANIFEST_SQL),
    "corpus_shard_manifest_streaming": QuerySpec(
        _stream_shard_manifest_fn, _SHARD_MANIFEST_SQL
    ),
    "corpus_decontaminate": QuerySpec(_decontaminate_fn, _DECONTAMINATE_SQL),
    "corpus_source_cap": QuerySpec(_source_cap_fn, _SOURCE_CAP_SQL),
    # extension: skew-safe two-phase per-source cap — row-identical to
    # corpus_source_cap (same oracle), but no task ever ranks a whole
    # hot group; the shared SQL is the equivalence proof
    "corpus_source_cap_2phase": QuerySpec(_source_cap_2phase_fn, _SOURCE_CAP_SQL),
    # extension: alpha=0.5 temperature source mixing (integer-exact quotas)
    "corpus_temperature_mix": QuerySpec(_temperature_mix_fn, _TEMPERATURE_MIX_SQL),
    # extension: containment-normalized decontamination
    "corpus_containment_decon": QuerySpec(
        _containment_decon_fn, _CONTAINMENT_DECON_SQL
    ),
    # extension: BM25 inverted-index retrieval (broadcast query terms)
    "text_bm25": QuerySpec(_bm25_fn, _BM25_SQL),
    # extension: set-overlap retrieval (tf-free complement of BM25)
    "text_jaccard_topk": QuerySpec(_jaccard_topk_fn, _JACCARD_TOPK_SQL),
    # extension: reciprocal-rank fusion of the two lexical rankers
    "text_hybrid_rrf": QuerySpec(_hybrid_rrf_fn, _HYBRID_RRF_SQL),
    # extension: per-source duplication-rate report (policy input)
    "corpus_dedup_report": QuerySpec(_dedup_report_fn, _DEDUP_REPORT_SQL),
    "text_unigram_lm": QuerySpec(_unigram_lm_fn, _UNIGRAM_LM_SQL),
    # r4: perplexity-partitioned decile mix via the distributed global
    # NTILE (no single-task corpus window)
    "corpus_ppl_deciles": QuerySpec(_ppl_deciles_fn, _PPL_DECILES_SQL),
    # extension: interpolated bigram LM (word order enters the score)
    "text_bigram_lm": QuerySpec(_bigram_lm_fn, _BIGRAM_LM_SQL),
    # extension: feature-hashing text embedding (in-row fold, zero shuffle)
    "text_hash_embed": QuerySpec(_hash_embed_fn, _HASH_EMBED_SQL),
    # r9: MODEL-BASED quality filtering — in-engine integer GD on the
    # perceptron loss over hashed features, Gopher-window weak labels;
    # margins = learned per-doc quality scores (unrolled-trajectory
    # oracle, the Lloyd/PageRank determinism pattern)
    "corpus_quality_perceptron": QuerySpec(
        _quality_perceptron_fn, _QUALITY_PERCEPTRON_SQL
    ),
    # r10: planted-signal eval for the learned filter — gibberish and
    # truncated twins must score below their clean originals (driver
    # pins per-pair margins; CI gates detected = 1 on every row)
    "corpus_quality_perceptron_eval": QuerySpec(
        _quality_perceptron_eval_fn, _QP_EVAL_SQL
    ),
    # multimodal plumbing
    "multimodal_meta": QuerySpec(_mm_meta_fn, _MM_META_SQL),
    "multimodal_decode": QuerySpec(_mm_decode_fn, _MM_DECODE_SQL),
    # extension: strided frame-sampling plumbing (video-style sampler)
    "multimodal_framesample": QuerySpec(_mm_framesample_fn, _MM_FRAMESAMPLE_SQL),
    # extension: nontrivial batch kernel through the pluggable decode
    # interface (numpy bincount over Arrow batches; byte-level oracle)
    # extension: perceptual dHash fingerprints through the pluggable
    # binary kernel (group via banded Hamming downstream)
    "multimodal_dhash": QuerySpec(_mm_dhash_fn, _MM_DHASH_SQL),
    # r9: REAL file -> BMP/PPM decode -> pixel dHash (pure-numpy
    # codecs; planted BMP-vs-PPM must-agree pairs; first-principles
    # hash oracle)
    "multimodal_decode_dhash": QuerySpec(
        _mm_decode_dhash_fn, _MM_DECODE_DHASH_SQL
    ),
    # r7: banded-Hamming perceptual near-dup pairs over dHash
    "multimodal_dhash_pairs": QuerySpec(_mm_dhash_pairs_fn, _MM_DHASH_PAIRS_SQL),
    # r10 (VERDICT r9 item 1): the FULL real-pixel image pipeline —
    # rendered planted-cluster corpus -> file ingest -> BMP/PPM decode
    # -> pixel dHash -> banded Hamming pairs, first-principles oracle
    "multimodal_pixel_neardup_pairs": QuerySpec(
        _mm_pixel_neardup_fn, _MM_PIXEL_NEARDUP_SQL
    ),
    # r10: driver-gated planted-pair recall for the real-pixel pipeline
    "multimodal_pixel_neardup_recall": QuerySpec(
        _mm_pixel_recall_fn, _MM_PIXEL_RECALL_SQL
    ),
    "multimodal_byte_histogram": QuerySpec(
        _mm_byte_histogram_fn, _MM_BYTE_HISTOGRAM_SQL
    ),
    # r5: vectorized PCM energy windows (numpy-over-Arrow audio path)
    "multimodal_pcm_energy": QuerySpec(_mm_pcm_energy_fn, _MM_PCM_SQL),
}


def _token_entropy_fn(spark, sf_dir):
    return T.token_entropy_by_lang(_docs(spark, sf_dir))


# Per-language unigram token entropy; per-term ln rounded+integer-scaled
# before the count-weighted sum (the unigram_logprob idiom).
_TOKEN_ENTROPY_SQL = (
    "WITH t AS (SELECT lang, unnest(list_filter(string_split_regex(trim("
    "regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), "
    "x -> x <> '')) AS tok FROM documents), "
    "cnt AS (SELECT lang, tok, COUNT(*) AS c FROM t GROUP BY 1, 2), "
    "tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v "
    "FROM cnt GROUP BY 1), "
    "tm AS (SELECT cnt.lang, t.n, t.v, cnt.c * CAST(round("
    "ln(CAST(cnt.c AS DOUBLE) / CAST(t.n AS DOUBLE)) * 1000000000.0) "
    "AS BIGINT) AS we9 FROM cnt JOIN tot t USING (lang)) "
    "SELECT lang, MAX(n) AS n_tokens, CAST(MAX(v) AS BIGINT) AS vocab_size, "
    "CAST(-SUM(we9) AS BIGINT) AS entropy_sum_e9, "
    "round(CAST(-SUM(we9) AS BIGINT) / MAX(n) / 1000000000.0, 9) AS entropy "
    "FROM tm GROUP BY lang"
)

QUERIES["text_token_entropy"] = QuerySpec(_token_entropy_fn, _TOKEN_ENTROPY_SQL)


def _bpe_merges_fn(spark, sf_dir):
    return T.bpe_learn_merges(_docs(spark, sf_dir), n_merges=3)


def _bpe_step_sql(k: int) -> str:
    """One unrolled BPE round: adjacent-pair counts over vocab v{k-1}
    (position self-join keyed on the unique padded word string), the
    deterministic argmax, and the two-pass replace rewrite into v{k}."""
    prev, cur = f"v{k - 1}", f"v{k}"
    pat = "' ' || t.l || ' ' || t.r || ' '"
    rep = "' ' || t.l || t.r || ' '"
    return (
        f"s{k} AS (SELECT w, cnt, unnest(string_split(trim(w), ' ')) AS sym, "
        f"generate_subscripts(string_split(trim(w), ' '), 1) AS pos FROM {prev}), "
        f"p{k} AS (SELECT a.sym AS l, b.sym AS r, SUM(a.cnt) AS n_occ "
        f"FROM s{k} a JOIN s{k} b ON a.w = b.w AND b.pos = a.pos + 1 "
        "GROUP BY 1, 2), "
        f"t{k} AS (SELECT l, r, n_occ FROM p{k} "
        "ORDER BY n_occ DESC, l, r LIMIT 1), "
        f"{cur} AS (SELECT replace(replace(v.w, {pat}, {rep}), {pat}, {rep}) "
        f"AS w, v.cnt FROM {prev} v, t{k} t)"
    )


_BPE_MERGES_SQL = (
    f"WITH {_TOK}, "
    "wrd AS (SELECT unnest(toks) AS word FROM tok), "
    "wc AS (SELECT word, COUNT(*) AS cnt FROM wrd GROUP BY 1), "
    "v0 AS (SELECT ' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g')) "
    "|| ' ' AS w, cnt FROM wc), "
    + ", ".join(_bpe_step_sql(k) for k in (1, 2, 3))
    + " "
    + " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS step, l AS \"left\", r AS \"right\", "
        # SUM yields HUGEINT -> pandas float64; BIGINT keeps the
        # driver's dtype-kind compare integer like the Spark side
        f"l || r AS merged, CAST(n_occ AS BIGINT) AS n_occ FROM t{k}"
        for k in (1, 2, 3)
    )
)

QUERIES["text_bpe_merges"] = QuerySpec(_bpe_merges_fn, _BPE_MERGES_SQL)


def _bpe_encode_fn(spark, sf_dir):
    return T.bpe_encode_stats(_docs(spark, sf_dir), n_merges=3)


# Encode half of the BPE loop: the 3 learned rules (t1..t3 from the
# learning chain) applied per word in learning order, two replace
# passes each; per-doc char/symbol totals.
_BPE_ENC_WORD = "' ' || trim(regexp_replace(wd.word, '(.)', '\\1 ', 'g')) || ' '"
_BPE_ENC_CHAIN = _BPE_ENC_WORD
for _k in (1, 2, 3):
    _pat = f"' ' || t{_k}.l || ' ' || t{_k}.r || ' '"
    _rep = f"' ' || t{_k}.l || t{_k}.r || ' '"
    _BPE_ENC_CHAIN = (
        f"replace(replace({_BPE_ENC_CHAIN}, {_pat}, {_rep}), {_pat}, {_rep})"
    )
_BPE_ENCODE_SQL = (
    f"WITH {_TOK}, "
    "wrd AS (SELECT unnest(toks) AS word FROM tok), "
    "wc AS (SELECT word, COUNT(*) AS cnt FROM wrd GROUP BY 1), "
    "v0 AS (SELECT ' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g')) "
    "|| ' ' AS w, cnt FROM wc), "
    + ", ".join(_bpe_step_sql(k) for k in (1, 2, 3))
    + ", wd AS (SELECT doc_id, unnest(toks) AS word FROM tok WHERE len(toks) > 0) "
    "SELECT wd.doc_id, COUNT(*) AS n_words, "
    "CAST(SUM(length(wd.word)) AS BIGINT) AS n_chars, "
    f"CAST(SUM(len(string_split(trim({_BPE_ENC_CHAIN}), ' '))) AS BIGINT) AS n_syms, "
    "CAST(SUM(length(wd.word)) AS BIGINT) "
    f"/ CAST(CAST(SUM(len(string_split(trim({_BPE_ENC_CHAIN}), ' '))) AS BIGINT) AS DOUBLE) "
    "AS compression "
    "FROM wd, t1, t2, t3 GROUP BY wd.doc_id"
)

QUERIES["text_bpe_encode"] = QuerySpec(_bpe_encode_fn, _BPE_ENCODE_SQL)


def _tokenize_pack_fn(spark, sf_dir):
    """r10 (VERDICT r9 item 5): the training-batch materialization
    end-to-end — the LAST step every LLM data pipeline runs: corpus →
    learned BPE encode (per-doc token counts under the corpus's own
    merges, ``bpe_encode_stats``) → offset-partitioned sequence
    packing of those TOKEN counts into fixed 2048-token contexts
    (``pack_bins`` with size = n_syms — the distributed two-phase
    prefix sum, never a single-task global window) → per-bin stats
    (docs started, tokens contributed, id span, boundary spill).
    Composes the two already-oracle-checked stages into one
    driver-checked path, the corpus_curate_e2e / fuzzy_dedup_e2e
    pattern. Everything integer; scale shape = one map-only encode
    pass + the prefix-sum machinery pack_bins already proved."""
    from ..operators.curate import pack_bins

    cap = 2048
    enc = T.bpe_encode_stats(_docs(spark, sf_dir), n_merges=3)
    packed = pack_bins(enc, size_col="n_syms", capacity=cap)
    return packed.groupBy("bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("size").cast("bigint").alias("n_tokens"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
        F.greatest(
            F.max(F.col("offset_in_bin") + F.col("size")) - F.lit(cap),
            F.lit(0),
        )
        .cast("bigint")
        .alias("spill"),
    )


# The BPE-encode CTE chain verbatim (the learned rules t1..t3 and the
# per-word replace chain), reduced to per-doc n_syms, then the naive
# global cumulative-sum packing the distributed prefix sum must equal,
# then per-bin aggregation. spill = how far the last-started doc runs
# past the 2048-token boundary (the truncation/continuation budget).
_TOKENIZE_PACK_SQL = (
    f"WITH {_TOK}, "
    "wrd AS (SELECT unnest(toks) AS word FROM tok), "
    "wc AS (SELECT word, COUNT(*) AS cnt FROM wrd GROUP BY 1), "
    "v0 AS (SELECT ' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g')) "
    "|| ' ' AS w, cnt FROM wc), "
    + ", ".join(_bpe_step_sql(k) for k in (1, 2, 3))
    + ", wd AS (SELECT doc_id, unnest(toks) AS word FROM tok WHERE len(toks) > 0), "
    "enc AS (SELECT wd.doc_id, "
    f"CAST(SUM(len(string_split(trim({_BPE_ENC_CHAIN}), ' '))) AS BIGINT) "
    "AS size FROM wd, t1, t2, t3 GROUP BY wd.doc_id), "
    "c AS (SELECT doc_id, size, COALESCE(SUM(size) OVER ("
    "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    "), 0) AS cum FROM enc), "
    "p AS (SELECT doc_id, size, CAST(floor(cum / 2048.0) AS BIGINT) AS bin_id, "
    "CAST(cum % 2048 AS BIGINT) AS off FROM c) "
    "SELECT bin_id, COUNT(*) AS n_docs, CAST(SUM(size) AS BIGINT) AS n_tokens, "
    "MIN(doc_id) AS first_doc_id, MAX(doc_id) AS last_doc_id, "
    "CAST(GREATEST(MAX(off + size) - 2048, 0) AS BIGINT) AS spill "
    "FROM p GROUP BY bin_id"
)

QUERIES["corpus_tokenize_pack_e2e"] = QuerySpec(
    _tokenize_pack_fn, _TOKENIZE_PACK_SQL
)


def _mm_vad_fn(spark, sf_dir):
    return M.vad_segments(
        M.pcm_energy_windows(M.attach_binary(_docs_raw(spark, sf_dir)))
    )


# VAD segments over the PCM energy windows: islands of consecutive
# non-silent windows (win - ROW_NUMBER() island key), exact integers
# end to end. Rides the _MM_PCM_SQL char-walk core (ASCII invariant
# enforced by tests/test_multimodal.py).
_MM_VAD_SQL = (
    f"WITH pcm AS ({_MM_PCM_SQL}), "
    "v AS (SELECT doc_id, win, energy_sq, "
    "win - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY win) AS g "
    "FROM pcm WHERE is_silence = 0) "
    "SELECT doc_id, MIN(win) AS start_win, MAX(win) AS end_win, "
    "COUNT(*) AS n_windows, CAST(SUM(energy_sq) AS BIGINT) "
    "AS total_energy_sq FROM v GROUP BY doc_id, g"
)

QUERIES["multimodal_vad_segments"] = QuerySpec(_mm_vad_fn, _MM_VAD_SQL)


def _backoff_lm_fn(spark, sf_dir):
    return T.backoff_trigram_logprob(_docs(spark, sf_dir))


from ..operators.text import BACKOFF_ALPHA as _BA, BACKOFF_ALPHA2 as _BA2  # noqa: E402

# Held-out stupid-backoff trigram scoring: counts from EVEN doc_ids,
# ODD doc_ids scored, so all three backoff tiers fire. The 0.4 and
# 0.4*0.4 constants are the SAME Python floats embedded in both
# engines; per-trigram ln rounded+integer-scaled pre-sum (the LM-scorer
# idiom). Positional self-joins rebuild the in-row n-gram explode.
_BACKOFF_LM_SQL = (
    f"WITH {_TOK}, {_T}, "
    "tr AS (SELECT * FROM t WHERE doc_id % 2 = 0), "
    "sc AS (SELECT * FROM t WHERE doc_id % 2 = 1), "
    "tf3 AS (SELECT a.doc_id, a.tok AS w1, b.tok AS w2, c.tok AS w3, "
    "COUNT(*) AS tf FROM sc a "
    "JOIN sc b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
    "JOIN sc c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2 "
    "GROUP BY 1, 2, 3, 4), "
    "c3 AS (SELECT a.tok AS w1, b.tok AS w2, c.tok AS w3, COUNT(*) AS c3 "
    "FROM tr a JOIN tr b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
    "JOIN tr c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2 "
    "GROUP BY 1, 2, 3), "
    "cb AS (SELECT a.tok AS w1, b.tok AS w2, COUNT(*) AS cb FROM tr a "
    "JOIN tr b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 GROUP BY 1, 2), "
    "cu AS (SELECT tok, COUNT(*) AS cu FROM tr GROUP BY 1), "
    "tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS T, "
    "CAST(COUNT(*) AS BIGINT) AS V FROM cu), "
    "term AS (SELECT tf3.doc_id, tf3.tf, CAST(round(ln("
    "CASE WHEN c3.c3 IS NOT NULL "
    "THEN CAST(c3.c3 AS DOUBLE) / CAST(pre.cb AS DOUBLE) "
    "WHEN suf.cb IS NOT NULL "
    f"THEN CAST('{_BA!r}' AS DOUBLE) * (CAST(suf.cb AS DOUBLE) / CAST(u2.cu AS DOUBLE)) "
    f"ELSE CAST('{_BA2!r}' AS DOUBLE) * (CAST(COALESCE(u3.cu, 0) + 1 AS DOUBLE) / "
    "CAST(tot.T + tot.V AS DOUBLE)) END) * 1e9) AS BIGINT) AS le9 "
    "FROM tf3 "
    "LEFT JOIN c3 ON tf3.w1 = c3.w1 AND tf3.w2 = c3.w2 AND tf3.w3 = c3.w3 "
    "LEFT JOIN cb pre ON tf3.w1 = pre.w1 AND tf3.w2 = pre.w2 "
    "LEFT JOIN cb suf ON tf3.w2 = suf.w1 AND tf3.w3 = suf.w2 "
    "LEFT JOIN cu u2 ON tf3.w2 = u2.tok "
    "LEFT JOIN cu u3 ON tf3.w3 = u3.tok "
    "CROSS JOIN tot) "
    "SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_trigrams, "
    "CAST(-SUM(le9 * tf) AS BIGINT) AS nll_e9, "
    "round(CAST(-SUM(le9 * tf) AS DOUBLE) / SUM(tf) / 1e9, 9) AS avg_nll "
    "FROM term GROUP BY doc_id"
)

QUERIES["text_backoff_lm"] = QuerySpec(_backoff_lm_fn, _BACKOFF_LM_SQL)


def _mm_phash_fn(spark, sf_dir):
    return M.phash64(M.attach_binary(_docs_raw(spark, sf_dir)))


from ..operators.multimodal import PHASH_K as _PHK  # noqa: E402

# pHash oracle: the ASCII char-walk rebuilds the integer downsample
# (byte x -> cell (x*64) div n, floor-mean pixel), the 2-D DCT-II is
# the same integer sum over the shared quantized basis (embedded below
# as a 64-row VALUES relation -> pure integer arithmetic, no float
# anywhere), median/bits/packing mirror the kernel exactly.
_PHASH_K_VALUES = ", ".join(
    f"({x}, {u}, {_PHK[x][u]})" for x in range(8) for u in range(8)
)

_MM_PHASH_SQL = (
    "WITH k(x, u, kv) AS (VALUES " + _PHASH_K_VALUES + "), "
    "d AS (SELECT doc_id, text, length(text) AS n FROM documents "
    "WHERE text IS NOT NULL AND length(text) > 0), "
    "bytes AS (SELECT doc_id, ((j - 1) * 64) // n AS cell, "
    "ord(substr(text, CAST(j AS INT), 1)) AS bv "
    "FROM d, LATERAL (SELECT unnest(range(1, CAST(n + 1 AS INT))) AS j)), "
    "cellsum AS (SELECT doc_id, cell, CAST(SUM(bv) AS BIGINT) // COUNT(*) AS pv "
    "FROM bytes GROUP BY 1, 2), "
    "grid AS (SELECT d.doc_id, g.p FROM d, "
    "LATERAL (SELECT unnest(range(0, 64)) AS p) g), "
    "pix AS (SELECT g.doc_id, g.p // 8 AS px, g.p % 8 AS py, "
    "COALESCE(c.pv, 0) AS pv FROM grid g "
    "LEFT JOIN cellsum c ON c.doc_id = g.doc_id AND c.cell = g.p), "
    "coeff AS (SELECT pix.doc_id, 8 * kx.u + ky.u AS i, "
    "CAST(SUM(pix.pv * kx.kv * ky.kv) AS BIGINT) AS cv "
    "FROM pix JOIN k kx ON kx.x = pix.px JOIN k ky ON ky.x = pix.py "
    "GROUP BY 1, 2), "
    "med AS (SELECT doc_id, cv AS med FROM (SELECT doc_id, cv, "
    "ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cv) AS rn "
    "FROM coeff WHERE i > 0) WHERE rn = 32), "
    "bits AS (SELECT c.doc_id, c.i, "
    "CASE WHEN c.i = 0 THEN 0 WHEN c.cv > m.med THEN 1 ELSE 0 END AS bit "
    "FROM coeff c JOIN med m USING (doc_id)) "
    "SELECT doc_id, "
    "CAST(SUM(CASE WHEN i >= 32 THEN bit * (CAST(1 AS BIGINT) << (i - 32)) "
    "ELSE 0 END) AS BIGINT) AS w_hi, "
    "CAST(SUM(CASE WHEN i < 32 THEN bit * (CAST(1 AS BIGINT) << i) "
    "ELSE 0 END) AS BIGINT) AS w_lo, "
    "CAST(SUM(bit) AS BIGINT) AS n_ac_above "
    "FROM bits GROUP BY doc_id"
)

QUERIES["multimodal_phash"] = QuerySpec(_mm_phash_fn, _MM_PHASH_SQL)


def _pca_power_fn(spark, sf_dir):
    return S.pca_top_direction(_embs(spark, sf_dir), n_iters=3)


def _pca_iter_ctes(n: int) -> str:
    """Unrolled integer power-iteration rounds v0 → v{n}: matvec
    (join + HUGEINT sum) then the positive-dividend rescale — HUGEINT
    ``//`` truncates exactly like Spark's decimal ``div``."""
    parts = []
    for t in range(1, n + 1):
        parts.append(
            f"w{t} AS (SELECT gn.i, SUM(gn.g * v{t-1}.x) AS w "
            f"FROM gn JOIN v{t-1} ON gn.j = v{t-1}.j GROUP BY 1), "
            f"mx{t} AS (SELECT GREATEST(MAX(ABS(w)), 1) AS mx FROM w{t}), "
            f"v{t} AS (SELECT i AS j, CAST((w * 1000 + 20000 * mx) // mx "
            f"- 20000 AS BIGINT) AS x FROM w{t}, mx{t})"
        )
    return ", ".join(parts)


# Shared CTE prefix of BOTH PCA oracles (ADVICE r7: two verbatim
# copies of the bit-exactness-critical chain can silently drift):
# floor-mean centering, HUGEINT scatter sums (exact at any corpus
# size), ONE G normalization to max|cell|=1000, then 3 unrolled bigint
# matvec+rescale rounds ending at iterate v3.
_PCA_PREFIX = (
    f"WITH {_SCALED_V}, "
    "dims AS (SELECT vec_id, generate_subscripts(e, 1) - 1 AS i, "
    "unnest(e) AS val FROM v), "
    "mean AS (SELECT i, (SUM(val) + 10000 * COUNT(*)) // COUNT(*) - 10000 AS m "
    "FROM dims GROUP BY 1), "
    "cent AS (SELECT d.vec_id, d.i, d.val - m.m AS c "
    "FROM dims d JOIN mean m USING (i)), "
    "g0 AS (SELECT a.i AS i, b.i AS j, "
    "SUM(CAST(a.c AS HUGEINT) * b.c) AS g "
    "FROM cent a JOIN cent b ON a.vec_id = b.vec_id GROUP BY 1, 2), "
    "mxg AS (SELECT GREATEST(MAX(ABS(g)), 1) AS mxg FROM g0), "
    "gn AS (SELECT i, j, CAST((g * 1000 + 20000 * mxg) // mxg - 20000 AS BIGINT) "
    "AS g FROM g0, mxg), "
    "v0 AS (SELECT CAST(i AS BIGINT) AS j, CAST(1000 AS BIGINT) AS x FROM mean), "
    + _pca_iter_ctes(3)
)

_PCA_POWER_SQL = (
    _PCA_PREFIX + ", "
    "num AS (SELECT SUM(gn.g * b.x * a.xi) AS num FROM gn "
    "JOIN v3 b ON gn.j = b.j "
    "JOIN (SELECT j AS i, x AS xi FROM v3) a ON gn.i = a.i), "
    "den AS (SELECT SUM(x * x) AS den FROM v3) "
    "SELECT v3.j AS dim, v3.x AS component, "
    "CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE) AS rayleigh "
    "FROM v3, num, den"
)

QUERIES["emb_pca_power"] = QuerySpec(_pca_power_fn, _PCA_POWER_SQL)


def _pca_project_fn(spark, sf_dir):
    return S.pca_project(_embs(spark, sf_dir), n_iters=3)


# Projection oracle: the shared power-iteration prefix plus one
# exact-integer dot of each centered vector with the final iterate.
_PCA_PROJECT_SQL = (
    _PCA_PREFIX + " "
    "SELECT c.vec_id, CAST(SUM(c.c * v3.x) AS BIGINT) AS proj "
    "FROM cent c JOIN v3 ON v3.j = c.i GROUP BY c.vec_id"
)

QUERIES["emb_pca_project"] = QuerySpec(_pca_project_fn, _PCA_PROJECT_SQL)


def _ann_recall_fn(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return S.ann_recall_eval(e.filter(F.col("vec_id") < 20), e, k=10)


# Recall@10 of the binary tier vs exact brute force over 20 queries —
# both tiers' CTEs with the shared deterministic tiebreaks, joined on
# (query, match) and counted per query.
_ANN_RECALL_SQL = (
    f"WITH {_SCALED_V}, "
    "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS match_id, "
    + _COS.format(a="q", b="c")
    + " AS cosine FROM v q JOIN v c ON q.vec_id < 20 AND q.vec_id <> c.vec_id "
    "JOIN nrm na ON na.vec_id = q.vec_id JOIN nrm nb ON nb.vec_id = c.vec_id), "
    "truth AS (SELECT query_id, match_id FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rank FROM scored) "
    "WHERE rank <= 10), "
    "bw AS (SELECT vec_id, list_transform(range(CAST(ceil(len(embedding) / 32.0) AS INT)), "
    "w -> CAST(COALESCE(list_sum(list_transform(range(32), "
    "j -> CASE WHEN COALESCE(embedding[w * 32 + j + 1] > 0.0, FALSE) "
    "THEN CAST(pow(2.0, j) AS BIGINT) ELSE 0 END)), 0) AS BIGINT)) AS wds "
    "FROM embeddings), "
    "h AS (SELECT q.vec_id AS query_id, c.vec_id AS match_id, "
    "CAST(list_sum(list_transform(list_zip(q.wds, c.wds), "
    "p -> bit_count(xor(p[1], p[2])))) AS BIGINT) AS hamming "
    "FROM bw q JOIN bw c ON q.vec_id < 20 AND q.vec_id <> c.vec_id), "
    "approx AS (SELECT query_id, match_id FROM (SELECT query_id, match_id, "
    "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming, match_id) "
    "AS rank FROM h) WHERE rank <= 10), "
    "hits AS (SELECT t.query_id, COUNT(*) AS n_overlap FROM truth t "
    "JOIN approx a ON a.query_id = t.query_id AND a.match_id = t.match_id "
    "GROUP BY 1), "
    "qs AS (SELECT DISTINCT query_id FROM truth) "
    "SELECT qs.query_id, CAST(COALESCE(h2.n_overlap, 0) AS BIGINT) AS n_overlap, "
    "CAST(COALESCE(h2.n_overlap, 0) AS DOUBLE) / 10.0 AS recall "
    "FROM qs LEFT JOIN hits h2 ON h2.query_id = qs.query_id"
)

QUERIES["emb_ann_recall_eval"] = QuerySpec(_ann_recall_fn, _ANN_RECALL_SQL)


def _ivf_recall_fn(spark, sf_dir):
    """Recall@5 of the md5-medoid IVF tier (nprobe=2 of 16 cells) vs
    exact brute force on the same 5-query panel — the per-tier recall
    eval as a driver-gated number (companion to emb_ann_recall_eval's
    binary tier; SCALE.md's sweep showed coarse quantizers floor on
    near-random fixtures, so the recorded recall here is an honest
    property of THIS fixture, not a quality claim)."""
    e = _embs(spark, sf_dir)
    truth = S.cosine_topk(e.filter(F.col("vec_id") < 5), e, k=5)
    approx = S.ivf_topk_md5(e.filter(F.col("vec_id") < 5), e, k=5)
    return S.recall_vs_truth(truth, approx, k=5)


_IVF_RECALL_SQL = (
    f"WITH {_SCALED_V}, "
    "scored0 AS (SELECT q.vec_id AS query_id, c.vec_id AS match_id, "
    + _COS.format(a="q", b="c")
    + " AS cosine FROM v q JOIN v c ON q.vec_id < 5 AND q.vec_id <> c.vec_id "
    "JOIN nrm na ON na.vec_id = q.vec_id JOIN nrm nb ON nb.vec_id = c.vec_id), "
    "truth AS (SELECT query_id, match_id FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rank FROM scored0) "
    "WHERE rank <= 5), "
    "cent AS (SELECT vec_id AS cell, e AS ce, "
    "CAST(list_sum([x * x for x in e]) AS BIGINT) AS cn2 FROM "
    "(SELECT vec_id, e FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) "
    f"{_AUTO_CELLS_LIMIT})), "
    "asg AS (SELECT match_id, ce2, cn_m, cell FROM ("
    "SELECT v.vec_id AS match_id, v.e AS ce2, n.nn AS cn_m, c.cell, "
    f"ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {_IVF_SQDIST}, c.cell) AS rn "
    "FROM v JOIN nrm n ON n.vec_id = v.vec_id CROSS JOIN cent c) WHERE rn = 1), "
    "prob AS (SELECT query_id, qe, qn, cell FROM ("
    "SELECT v.vec_id AS query_id, v.e AS qe, n.nn AS qn, c.cell, "
    f"ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {_IVF_SQDIST}, c.cell) AS rn "
    "FROM v JOIN nrm n ON n.vec_id = v.vec_id CROSS JOIN cent c "
    "WHERE v.vec_id < 5) WHERE rn <= 2), "
    "scored AS (SELECT p.query_id, a.match_id, "
    "CAST(CAST(list_sum(list_transform(list_zip(p.qe, a.ce2), x -> x[1] * x[2])) "
    "AS BIGINT) AS DOUBLE) / sqrt(CAST(p.qn * a.cn_m AS DOUBLE)) AS cosine "
    "FROM prob p JOIN asg a ON a.cell = p.cell AND p.query_id <> a.match_id), "
    "approx AS (SELECT query_id, match_id FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rank FROM scored) "
    "WHERE rank <= 5), "
    "hits AS (SELECT t.query_id, COUNT(*) AS n_overlap FROM truth t "
    "JOIN approx a ON a.query_id = t.query_id AND a.match_id = t.match_id "
    "GROUP BY 1), "
    "qs AS (SELECT DISTINCT query_id FROM truth) "
    "SELECT qs.query_id, CAST(COALESCE(h2.n_overlap, 0) AS BIGINT) AS n_overlap, "
    "CAST(COALESCE(h2.n_overlap, 0) AS DOUBLE) / 5.0 AS recall "
    "FROM qs LEFT JOIN hits h2 ON h2.query_id = qs.query_id"
)

QUERIES["emb_ivf_recall_eval"] = QuerySpec(_ivf_recall_fn, _IVF_RECALL_SQL)


def _fuzzy_dedup_e2e_fn(spark, sf_dir):
    """r8 (VERDICT r7 item 6): the full Lee et al. / RefinedWeb
    document-level fuzzy dedup as ONE headline op — shingle → MinHash →
    LSH → exact-Jaccard verify → components over verified pairs →
    centrality keeper. Single persisted pair relation feeds both graph
    consumers."""
    return D.fuzzy_dedup_e2e(
        _docs(spark, sf_dir), k=K_MINHASH, rows_per_band=ROWS_PER_BAND,
        jaccard_threshold=0.2,
    )


# Composition oracle: the dedup_minhash_lsh CTE chain (shingle/sig/
# band/cand/jaccard verify) produces the verified pair set vp; the
# components recursive closure and the degree-capped integer PageRank
# (the _KEEP_CENTRAL_SQL machinery — gedges capped most-similar-first
# by jaccard DESC, mirroring the engine's __ord = -jaccard) both run
# over vp; the keeper is the per-component (rank_e9 DESC, doc_id)
# argmax.
_FUZZY_E2E_SQL = (
    _BASE_SH.replace("WITH ", "WITH RECURSIVE ", 1)
    + f", {_SIG}, {_BANDS}, {_CAND}, {_SIZES}, {_SHARED}, {_JACC}, "
    "vp AS (SELECT j.id_a, j.id_b, j.jaccard FROM jac j "
    "JOIN cand c ON c.id_a = j.id_a AND c.id_b = j.id_b "
    "WHERE j.jaccard >= 0.2), "
    # --- components closure over the verified pair graph ---
    "pedges AS (SELECT id_a AS u, id_b AS v FROM vp "
    "UNION ALL SELECT id_b, id_a FROM vp), "
    "reach AS (SELECT doc_id AS u, doc_id AS v FROM documents "
    "UNION SELECT r.u, e.v FROM reach r JOIN pedges e ON r.v = e.u), "
    "comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u), "
    # --- degree-capped integer PageRank over the same graph ---
    "alledges AS (SELECT id_a AS src, id_b AS dst, jaccard FROM vp "
    "UNION ALL SELECT id_b, id_a, jaccard FROM vp), "
    "gedges AS (SELECT src, dst FROM (SELECT src, dst, ROW_NUMBER() OVER ("
    "PARTITION BY src ORDER BY jaccard DESC, dst) AS rn FROM alledges) "
    "WHERE rn <= 16), "
    "gdegs AS (SELECT src, COUNT(*) AS deg FROM gedges GROUP BY 1), "
    "nodes AS (SELECT doc_id AS node FROM documents), "
    "tot AS (SELECT COUNT(*) AS N FROM nodes), "
    "gr0 AS (SELECT node, CAST(1000000000 AS BIGINT) // t.N AS r "
    "FROM nodes CROSS JOIN tot t), "
    + _pr_iter_g_sql("gr0", "1") + ", "
    + _pr_iter_g_sql("gr1", "2") + ", "
    + _pr_iter_g_sql("gr2", "3") + ", "
    # --- per-component argmax keeper ---
    "joined AS (SELECT comp.component, comp.doc_id, gr3.r AS rank_e9 "
    "FROM comp JOIN gr3 ON gr3.node = comp.doc_id), "
    "ranked AS (SELECT component, doc_id, rank_e9, "
    "ROW_NUMBER() OVER (PARTITION BY component ORDER BY rank_e9 DESC, doc_id) AS rn, "
    "CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_members FROM joined) "
    # CAST the rank: the PR inflow SUM is HUGEINT in DuckDB, which
    # pandas materializes as float64 (the r3 dtype-kind lesson)
    "SELECT component, doc_id AS keep_id, CAST(rank_e9 AS BIGINT) AS keep_rank_e9, "
    "n_members FROM ranked WHERE rn = 1"
)

QUERIES["corpus_fuzzy_dedup_e2e"] = QuerySpec(_fuzzy_dedup_e2e_fn, _FUZZY_E2E_SQL)


def _knn_ivf2_fn(spark, sf_dir):
    """r8: two-level (IMI-style) IVF — hierarchical assignment over the
    nested md5-medoid draw (supers = first ceil(sqrt(C)) centroids in
    the same md5 order), cutting per-vector assignment from C to
    ~2*sqrt(C) centroid distances. Fully deterministic, hash-checked."""
    e = _embs(spark, sf_dir)
    return S.ivf_topk_two_level(e.filter(F.col("vec_id") < 5), e, k=5)


# r9: the assignment half is the SHARED two-level fragment
# (_IVF2_ASSIGN_CTES — also the semantic-cells / mutual-kNN mirror, so
# the engine and every consumer oracle share one point of truth; the
# ADVICE r8 high divergence cannot recur per-oracle). Query probing is
# FLAT (the engine's probe_kernel): rank ALL C cells by exact-integer
# sq L2, keep the best n_probe = 2. Engaged regime pinned at N = 16,384
# by test_oracle_parity.py.
_KNN_IVF2_SQL = (
    f"WITH {_SCALED_V}, {_IVF2_ASSIGN_CTES}, "
    "prob AS (SELECT query_id, qe, qn, cell FROM (SELECT v.vec_id AS "
    "query_id, v.e AS qe, n.nn AS qn, c.cell, ROW_NUMBER() OVER ("
    "PARTITION BY v.vec_id ORDER BY n.nn + c.cn2 - 2 * "
    + _IVF2_DOT.format(a="v.e", b="c.ce")
    + ", c.cell) AS rn FROM v JOIN nrm n ON n.vec_id = v.vec_id "
    "CROSS JOIN cent c WHERE v.vec_id < 5) WHERE rn <= 2), "
    "scored AS (SELECT p.query_id, a.vec_id AS match_id, "
    "CAST(CAST(list_sum(list_transform(list_zip(p.qe, a.e), "
    "x -> x[1] * x[2])) AS BIGINT) AS DOUBLE) / "
    "sqrt(CAST(p.qn * a.nn AS DOUBLE)) AS cosine "
    "FROM prob p JOIN asg a ON a.cell = p.cell AND p.query_id <> a.vec_id) "
    "SELECT query_id, match_id, cosine, rank FROM (SELECT *, ROW_NUMBER() "
    "OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rank "
    "FROM scored) WHERE rank <= 5"
)

QUERIES["knn_ivf_two_level"] = QuerySpec(_knn_ivf2_fn, _KNN_IVF2_SQL)


def _knn_ivf_pq_fn(spark, sf_dir):
    """r10: IVFADC (Jégou et al., TPAMI 2011 §V — FAISS IndexIVFPQ's
    shape): two-level IVF cell probing restricts the scan to ~n_probe/C
    of the corpus, PQ asymmetric-distance scoring makes that restricted
    scan codes-only. Composes the two oracle-checked halves
    (knn_ivf_two_level's assignment/probe + knn_pq_adc's LUT scoring)
    into the canonical billion-scale ANN operator."""
    e = _embs(spark, sf_dir)
    return S.ivf_pq_topk(e.filter(F.col("vec_id") < 5), e, k=10)


# The shared two-level assignment CTEs + the flat probe (both verbatim
# from _KNN_IVF2_SQL) pick the candidate set; the PQ CTE chain
# (verbatim from _PQ_BASE, its `asg` renamed to dodge the IVF `asg`)
# scores ONLY those candidates via the per-query LUT sum.
_PQ_BASE_R = _PQ_BASE.replace(f"{_SCALED_V}, ", "").replace(
    "asg AS (", "pqasg AS ("
)
_KNN_IVFPQ_SQL = (
    f"WITH {_SCALED_V}, {_IVF2_ASSIGN_CTES}, "
    "prob AS (SELECT query_id, cell FROM (SELECT v.vec_id AS query_id, "
    "c.cell, ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY "
    "n.nn + c.cn2 - 2 * "
    + _IVF2_DOT.format(a="v.e", b="c.ce")
    + ", c.cell) AS rn FROM v JOIN nrm n ON n.vec_id = v.vec_id "
    "CROSS JOIN cent c WHERE v.vec_id < 5) WHERE rn <= 2), "
    "cnd AS (SELECT p.query_id, a.vec_id AS match_id FROM prob p "
    "JOIN asg a ON a.cell = p.cell AND p.query_id <> a.vec_id), "
    + _PQ_BASE_R
    + ", codes AS (SELECT vec_id AS match_id, s, cid AS code FROM pqasg "
    "WHERE rn = 1), "
    "lut AS (SELECT sub.vec_id AS query_id, sub.s, cb.cid, "
    + _PQ_SQ.format(a="sub.sub", b="cb.csub")
    + " AS lsq FROM sub JOIN cb ON cb.s = sub.s WHERE sub.vec_id < 5), "
    "tot AS (SELECT cnd.query_id, cnd.match_id, SUM(l.lsq) AS total "
    "FROM cnd JOIN codes c ON c.match_id = cnd.match_id "
    "JOIN lut l ON l.query_id = cnd.query_id AND l.s = c.s "
    "AND l.cid = c.code GROUP BY 1, 2) "
    "SELECT query_id, match_id, "
    "sqrt(CAST(total AS DOUBLE)) / 1000.0 AS adc_dist, rank "
    "FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id "
    "ORDER BY total, match_id) AS rank FROM tot) WHERE rank <= 10"
)

QUERIES["knn_ivf_pq"] = QuerySpec(_knn_ivf_pq_fn, _KNN_IVFPQ_SQL)


def _index_e2e_fn(spark, sf_dir):
    """r8: the RAG-indexing pipeline END TO END — sliding-window
    chunking (corpus_chunk_overlap's grain) → hashing-trick chunk
    embeddings (the no-model bootstrap embedding) → auto-cell
    md5-medoid IVF assignment (the knn_ivf quantizer over CHUNK
    count) → per-cell index summary. The composed shape a retrieval
    corpus build runs before a learned encoder exists; every stage
    keeps its standalone contract (map-only chunking + embedding,
    broadcast-codebook Arrow assignment). member_sum checksums exact
    cell membership, so the driver hash pins the full chain."""
    from ..operators.curate import chunk_overlap
    from ..operators.dedup import sqnorm_expr
    from ..operators.similarity import (
        _resolve_n_cells,
        md5_medoid_centroids,
        two_level_assign,
    )
    from ..operators.text import hashing_trick_embed

    from pyspark import StorageLevel

    chunks = chunk_overlap(_docs(spark, sf_dir), chunk_words=12, stride_words=8)
    # ADVICE r8: a >= 100k-chunk document (~800k words at stride 8)
    # would collide into the next doc_id's id space and corrupt the
    # rollup on BOTH engines identically — fail loudly instead. The
    # assert_true feeds chunk_id so Catalyst cannot prune it away.
    ci_guard = F.coalesce(
        F.assert_true(
            F.col("ci") < 100000,
            F.lit("corpus_index_e2e: chunk index >= 100000 collides into the next doc_id"),
        ).cast("bigint"),
        F.lit(0).cast("bigint"),
    )
    ch = chunks.select(
        (F.col("doc_id") * 100000 + F.col("ci") + ci_guard).alias("chunk_id"),
        F.col("chunk"),
    )
    emb = hashing_trick_embed(
        ch, dim=16, text_col="chunk", id_col="chunk_id", as_array=True
    )
    # persist the chunk+embed chain: THREE consumers scan it (the
    # auto-cells count, the centroid draw, the assignment kernel) and
    # it is the pipeline's expensive stage — same single-computation
    # discipline as minhash_dedup_pairs' shingle explosion
    c = (
        emb.select(
            F.col("chunk_id").alias("__id"), F.col("embedding").alias("e")
        )
        .withColumn("n", sqnorm_expr(F.col("e")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # r9 (VERDICT r8 item 1): hierarchical two-level assignment — the
    # flat codebook scan's N·C term is the documented ~10^7-vector
    # wall; two_level_assign self-gates to flat below 64 cells (so
    # fixture-scale hashes are unchanged) and funnels through
    # S = ceil(sqrt(C)) supers above it.
    cent = md5_medoid_centroids(c, _resolve_n_cells(None, c))
    assigned = two_level_assign(c, cent)
    return assigned.groupBy("cell").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.countDistinct(F.expr("__id div 100000")).cast("bigint").alias("n_docs"),
        F.sum("__id").cast("bigint").alias("member_sum"),
    )


# Composition oracle: the chunk CTE (corpus_chunk_overlap), the
# hashing-trick embedding re-tokenized at CHUNK grain (text_hash_embed's
# bucket/sign rules), integer norms, the md5-medoid centroid draw with
# auto cells over the TOKENFUL chunk count, one exact-integer
# assignment argmin, and the per-cell rollup. The CTE chain (through
# the corpus cell assignment `asg`) is shared with the r10 retrieval
# eval (`corpus_rag_recall_eval`) — one point of truth, the
# _IVF2_ASSIGN_CTES discipline.
_INDEX_CHAIN_CTES = (
    "WITH s AS (SELECT doc_id, string_split(trim(text), ' ') AS w "
    "FROM documents), "
    "n0 AS (SELECT doc_id, w, len(w) AS nw FROM s), "
    "ck AS (SELECT doc_id, gs - 1 AS ci, "
    "list_aggregate(w[(gs-1)*8+1 : (gs-1)*8+12], 'string_agg', ' ') AS chunk "
    "FROM n0, LATERAL (SELECT unnest(range(1, 2 + "
    "CAST(ceil(GREATEST(nw - 12, 0) / 8.0) AS BIGINT))) AS gs)), "
    "ch AS (SELECT doc_id * 100000 + ci AS chunk_id, chunk FROM ck), "
    "ctok AS (SELECT chunk_id, list_filter(string_split_regex(trim("
    "regexp_replace(lower(chunk), '[^a-z0-9]+', ' ', 'g')), ' '), "
    "x -> x <> '') AS toks FROM ch), "
    "ct AS (SELECT chunk_id, unnest(toks) AS tok FROM ctok), "
    "dt AS (SELECT DISTINCT chunk_id, tok FROM ct), "
    "bkt AS (SELECT chunk_id, "
    "CAST('0x' || substr(md5(tok), 1, 4) AS INT) % 16 AS dim_idx, "
    "CASE WHEN substr(md5(tok), 5, 1) BETWEEN '8' AND 'f' THEN 1 ELSE -1 END "
    "AS sgn FROM dt), "
    "wt AS (SELECT chunk_id, dim_idx, SUM(sgn) AS wt FROM bkt GROUP BY 1, 2), "
    "dims AS (SELECT unnest(range(16)) AS dim_idx), "
    "tokful AS (SELECT DISTINCT chunk_id FROM dt), "
    "e AS (SELECT tokful.chunk_id, "
    "list(CAST(COALESCE(wt.wt, 0) AS BIGINT) ORDER BY dims.dim_idx) AS e "
    "FROM tokful CROSS JOIN dims LEFT JOIN wt "
    "ON wt.chunk_id = tokful.chunk_id AND wt.dim_idx = dims.dim_idx "
    "GROUP BY tokful.chunk_id), "
    "nrm AS (SELECT chunk_id, CAST(list_sum([x * x for x in e]) AS BIGINT) "
    "AS nn FROM e), "
    # r9: two-level assignment mirror — nested super draw (first S of
    # the SAME md5 order, gated S = C below 64 cells where the union
    # argmin provably equals flat, so sf0.01 hashes are unchanged),
    # centroid->super map, then vector -> top-2 supers -> best cell
    # over the union of both supers' groups. Exactly two_level_assign.
    "cent AS (SELECT chunk_id AS cell, e AS ce, nn AS cn2, hm FROM ("
    "SELECT e.chunk_id, e.e, n.nn, md5(CAST(e.chunk_id AS VARCHAR)) AS hm "
    "FROM e JOIN nrm n USING (chunk_id) ORDER BY hm "
    "LIMIT (SELECT GREATEST(4, LEAST(65536, (COUNT(*) + 255) // 256)) "
    "FROM tokful))), "
    "sup AS (SELECT cell AS scell, ce AS se, cn2 AS sn2 FROM "
    "(SELECT * FROM cent ORDER BY hm "
    "LIMIT (SELECT CASE WHEN c < 64 THEN c "
    "ELSE CAST(CEIL(SQRT(c)) AS BIGINT) END FROM "
    "(SELECT GREATEST(4, LEAST(65536, (COUNT(*) + 255) // 256)) AS c "
    "FROM tokful)))), "
    "c2s AS (SELECT cell, ce, cn2, scell FROM (SELECT c.cell, c.ce, c.cn2, "
    "s.scell, ROW_NUMBER() OVER (PARTITION BY c.cell ORDER BY "
    "c.cn2 + s.sn2 - 2 * " + _IVF2_DOT.format(a="c.ce", b="s.se")
    + ", s.scell) AS rn FROM cent c CROSS JOIN sup s) WHERE rn = 1), "
    "vsup AS (SELECT chunk_id, e, nn, scell FROM (SELECT e.chunk_id, e.e, "
    "n.nn, s.scell, ROW_NUMBER() OVER (PARTITION BY e.chunk_id ORDER BY "
    "n.nn + s.sn2 - 2 * " + _IVF2_DOT.format(a="e.e", b="s.se")
    + ", s.scell) AS rn FROM e JOIN nrm n USING (chunk_id) "
    "CROSS JOIN sup s) WHERE rn <= 2), "
    "asg AS (SELECT chunk_id, cell FROM (SELECT vs.chunk_id, c.cell, "
    "ROW_NUMBER() OVER (PARTITION BY vs.chunk_id ORDER BY "
    "vs.nn + c.cn2 - 2 * " + _IVF2_DOT.format(a="vs.e", b="c.ce")
    + ", c.cell) AS rn FROM vsup vs JOIN c2s c ON c.scell = vs.scell) "
    "WHERE rn = 1) "
)

_INDEX_E2E_SQL = _INDEX_CHAIN_CTES + (
    "SELECT cell, COUNT(*) AS n_chunks, "
    "CAST(COUNT(DISTINCT chunk_id // 100000) AS BIGINT) AS n_docs, "
    "CAST(SUM(chunk_id) AS BIGINT) AS member_sum "
    "FROM asg GROUP BY cell"
)

QUERIES["corpus_index_e2e"] = QuerySpec(_index_e2e_fn, _INDEX_E2E_SQL)


def _rag_recall_fn(spark, sf_dir):
    """r10: end-to-end RETRIEVAL eval over the RAG chunk index — the
    eval twin `corpus_index_e2e` was missing (the recall-eval theme:
    emb_ann_recall_eval / dedup_minhash_recall_eval /
    multimodal_pixel_neardup_recall judge their pipelines on
    detection; this judges the index on RETRIEVAL). Queries are the
    first 8 words of every 5th document — a partial-context probe
    whose gold label is its own source document — embedded with the
    same hashing trick, probed through the same flat-probe/two-level
    split as `knn_ivf_two_level` (ONE codebook collect serves
    assignment and probing), scored by exact integer squared L2
    inside the probed cells only. Per-query grain output pins the
    retrieved set, the top-1 chunk, and the hit flag (gold doc in
    top-4); integer-only columns — cosine's float division is not
    needed to rank and hash-embeds can be zero-norm.

    100 TB shape: identical to the index build (the corpus side IS
    the index build) plus a query-scale flat probe (Q·C trivial at
    Q ≪ N) and a per-query ranked window over ~n_probe/C of the
    corpus. Queries ride the same broadcast codebook."""
    from ..operators.curate import chunk_overlap
    from ..operators.dedup import sqnorm_expr
    from ..operators.similarity import (
        _flat_probe,
        _resolve_n_cells,
        _two_level_assign_rows,
        md5_medoid_centroids,
    )
    from ..operators.text import hashing_trick_embed

    from pyspark import StorageLevel
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    chunks = chunk_overlap(docs, chunk_words=12, stride_words=8)
    ci_guard = F.coalesce(
        F.assert_true(
            F.col("ci") < 100000,
            F.lit(
                "corpus_rag_recall_eval: chunk index >= 100000 collides "
                "into the next doc_id"
            ),
        ).cast("bigint"),
        F.lit(0).cast("bigint"),
    )
    ch = chunks.select(
        (F.col("doc_id") * 100000 + F.col("ci") + ci_guard).alias("chunk_id"),
        F.col("chunk"),
    )
    emb = hashing_trick_embed(
        ch, dim=16, text_col="chunk", id_col="chunk_id", as_array=True
    )
    c = (
        emb.select(
            F.col("chunk_id").alias("__id"), F.col("embedding").alias("e")
        )
        .withColumn("n", sqnorm_expr(F.col("e")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cent = md5_medoid_centroids(c, _resolve_n_cells(None, c))
    rows = cent.collect()
    assigned = _two_level_assign_rows(c, rows, None, 2)

    qsrc = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id"),
        F.array_join(
            F.slice(F.split(F.trim(F.col("text")), " "), 1, 8), " "
        ).alias("qt"),
    )
    q = (
        hashing_trick_embed(
            qsrc, dim=16, text_col="qt", id_col="doc_id", as_array=True
        )
        .select(F.col("doc_id").alias("__id"), F.col("embedding").alias("e"))
        .withColumn("n", sqnorm_expr(F.col("e")))
    )
    probed = _flat_probe(q, rows, n_probe=2)
    qv = q.select(
        F.col("__id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("n").alias("qn"),
    )
    sq = (
        F.col("qn")
        + F.col("n")
        - 2
        * F.aggregate(
            F.zip_with(F.col("qe"), F.col("e"), lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
    )
    cand = (
        probed.join(assigned, "cell")
        .join(qv, "query_id")
        .select(
            F.col("query_id").alias("query_doc"),
            F.col("__id").alias("match_id"),
            sq.alias("sq"),
        )
    )
    w = W.partitionBy("query_doc").orderBy("sq", "match_id")
    rk = cand.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 4
    )
    return rk.groupBy("query_doc").agg(
        F.max(F.when(F.col("rn") == 1, F.col("match_id"))).alias(
            "top1_chunk"
        ),
        F.max(
            (F.expr("match_id div 100000") == F.col("query_doc")).cast(
                "bigint"
            )
        ).alias("hit"),
        F.count("*").alias("n_retrieved"),
    )


# The corpus half is _INDEX_CHAIN_CTES verbatim (chunk -> embed ->
# codebook -> two-level asg); the query half mirrors the engine's
# flat probe (rank ALL C cells, ties (sq, cell) — the stable-argsort
# rule) and the in-cell exact-integer scan with ties (sq, match_id).
_RAG_RECALL_SQL = _INDEX_CHAIN_CTES + (
    ", qsrc AS (SELECT doc_id, "
    "list_aggregate(w[1:8], 'string_agg', ' ') AS qt "
    "FROM n0 WHERE doc_id % 5 = 0), "
    "qtok AS (SELECT doc_id, list_filter(string_split_regex(trim("
    "regexp_replace(lower(qt), '[^a-z0-9]+', ' ', 'g')), ' '), "
    "x -> x <> '') AS toks FROM qsrc), "
    "qct AS (SELECT doc_id, unnest(toks) AS tok FROM qtok), "
    "qdt AS (SELECT DISTINCT doc_id, tok FROM qct), "
    "qbkt AS (SELECT doc_id, "
    "CAST('0x' || substr(md5(tok), 1, 4) AS INT) % 16 AS dim_idx, "
    "CASE WHEN substr(md5(tok), 5, 1) BETWEEN '8' AND 'f' THEN 1 ELSE -1 END "
    "AS sgn FROM qdt), "
    "qwt AS (SELECT doc_id, dim_idx, SUM(sgn) AS wt FROM qbkt GROUP BY 1, 2), "
    "qtokful AS (SELECT DISTINCT doc_id FROM qdt), "
    "qemb AS (SELECT qtokful.doc_id, "
    "list(CAST(COALESCE(qwt.wt, 0) AS BIGINT) ORDER BY dims.dim_idx) AS e "
    "FROM qtokful CROSS JOIN dims LEFT JOIN qwt "
    "ON qwt.doc_id = qtokful.doc_id AND qwt.dim_idx = dims.dim_idx "
    "GROUP BY qtokful.doc_id), "
    "qnrm AS (SELECT doc_id, CAST(list_sum([x * x for x in e]) AS BIGINT) "
    "AS nn FROM qemb), "
    "qpr AS (SELECT query_doc, cell FROM (SELECT q.doc_id AS query_doc, "
    "c.cell, ROW_NUMBER() OVER (PARTITION BY q.doc_id ORDER BY "
    "n.nn + c.cn2 - 2 * " + _IVF2_DOT.format(a="q.e", b="c.ce")
    + ", c.cell) AS rn FROM qemb q JOIN qnrm n USING (doc_id) "
    "CROSS JOIN cent c) WHERE rn <= 2), "
    "cand AS (SELECT p.query_doc, a.chunk_id AS match_id, "
    "qnrm.nn + nrm.nn - 2 * " + _IVF2_DOT.format(a="qemb.e", b="e.e")
    + " AS sq FROM qpr p JOIN asg a USING (cell) "
    "JOIN e ON e.chunk_id = a.chunk_id "
    "JOIN nrm ON nrm.chunk_id = a.chunk_id "
    "JOIN qemb ON qemb.doc_id = p.query_doc "
    "JOIN qnrm ON qnrm.doc_id = p.query_doc), "
    "rk AS (SELECT query_doc, match_id, ROW_NUMBER() OVER ("
    "PARTITION BY query_doc ORDER BY sq, match_id) AS rn FROM cand) "
    "SELECT query_doc, "
    "MAX(CASE WHEN rn = 1 THEN match_id END) AS top1_chunk, "
    "CAST(MAX(CASE WHEN match_id // 100000 = query_doc THEN 1 ELSE 0 END) "
    "AS BIGINT) AS hit, "
    "COUNT(*) AS n_retrieved FROM rk WHERE rn <= 4 GROUP BY query_doc"
)

QUERIES["corpus_rag_recall_eval"] = QuerySpec(_rag_recall_fn, _RAG_RECALL_SQL)


def _minhash_recall_fn(spark, sf_dir):
    """r8: near-dup-detection RECALL as a driver-gated operator — the
    dedup twin of emb_ann_recall_eval. The fixture has no planted
    near-dup pairs, so both engines plant them in-query (docsx: one
    'qz ' token prepended to every doc with doc_id < 40 and >= 200
    chars — the shingle set gains exactly one 3-gram, Jaccard
    |S|/(|S|+1) ~ 0.97) and the UNMODIFIED MinHash-LSH pipeline must
    recover each planted pair. Output: one row per planted pair with
    its found flag, so the driver hash pins per-pair recall, not just
    an aggregate."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    plantable = docs.filter(
        (F.col("doc_id") < 40) & (F.length("text") >= 200)
    )
    planted = plantable.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.lit("qz "), F.col("text")).alias("text"),
    )
    pairs = D.minhash_dedup_pairs(
        docs.unionAll(planted), k=K_MINHASH, rows_per_band=ROWS_PER_BAND,
        jaccard_threshold=0.2,
    )
    truth = plantable.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 2_000_000).alias("id_b"),
    )
    found = pairs.select("id_a", "id_b").withColumn("__f", F.lit(1))
    return truth.join(found, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        F.coalesce("__f", F.lit(0)).cast("bigint").alias("found"),
    )


# The dedup_minhash_lsh CTE chain verbatim (only the tok CTE retargets
# to the planted docsx relation), then a left join of the planted truth
# pairs against the verified pair set.
_MINHASH_RECALL_SQL = (
    "WITH docsx AS (SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 2000000, 'qz ' || text FROM documents "
    "WHERE doc_id < 40 AND length(text) >= 200), "
    "tok AS (SELECT doc_id, list_filter(string_split_regex(trim("
    "regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), "
    "x -> x <> '') AS toks FROM docsx), "
    f"{_T}, {_SH}, {_SIG}, {_BANDS}, {_CAND}, {_SIZES}, {_SHARED}, {_JACC}, "
    "vp AS (SELECT j.id_a, j.id_b FROM jac j "
    "JOIN cand c ON c.id_a = j.id_a AND c.id_b = j.id_b "
    "WHERE j.jaccard >= 0.2), "
    "truth AS (SELECT doc_id AS id_a, doc_id + 2000000 AS id_b "
    "FROM documents WHERE doc_id < 40 AND length(text) >= 200) "
    "SELECT t.id_a, t.id_b, CAST(CASE WHEN v.id_a IS NOT NULL "
    "THEN 1 ELSE 0 END AS BIGINT) AS found "
    "FROM truth t LEFT JOIN vp v ON v.id_a = t.id_a AND v.id_b = t.id_b"
)

QUERIES["dedup_minhash_recall_eval"] = QuerySpec(
    _minhash_recall_fn, _MINHASH_RECALL_SQL
)


def _char_entropy_fn(spark, sf_dir):
    from ..operators.text import char_entropy

    return char_entropy(_docs(spark, sf_dir))


# Exact char histogram (the _MM_BYTE_HISTOGRAM position-walk pattern),
# c*log2(c) terms, entropy rounded to 9 decimals (the bm25 precedent:
# 1-ulp log differences and sum reassociation cannot move the hash).
_CHAR_ENTROPY_SQL = (
    "WITH pos AS (SELECT doc_id, unnest(range(1, length(text) + 1)) AS i "
    "FROM documents WHERE length(text) > 0), "
    "h AS (SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch, COUNT(*) AS c "
    "FROM pos JOIN documents USING (doc_id) GROUP BY 1, 2), "
    "a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars, "
    "CAST(COUNT(*) AS BIGINT) AS n_distinct, "
    "SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS t FROM h GROUP BY 1) "
    "SELECT doc_id, n_chars, n_distinct, "
    "ROUND(log2(CAST(n_chars AS DOUBLE)) - t / CAST(n_chars AS DOUBLE), 9) "
    "AS entropy FROM a"
)

QUERIES["text_char_entropy"] = QuerySpec(_char_entropy_fn, _CHAR_ENTROPY_SQL)
