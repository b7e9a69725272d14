"""Text-analysis operators for large-scale training-data pipelines:
tokenization, shingling, quality features, language ID, fingerprints.

All pure JVM column expressions (whole-stage codegen; no Python UDFs):
at 100 TB these run scan-local with zero shuffles. Hashes are md5 hex
strings so every derived feature is engine-portable and deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

# Small public stopword lists (top function words per language) for the
# n-gram-free language-ID heuristic and stopword-ratio quality feature.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "est", "que"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu", "mit"],
    "es": ["el", "la", "de", "y", "los", "que", "un", "una", "es", "en"],
}


def normalize(col: Column | str) -> Column:
    """Lowercase, strip non-alphanumerics to spaces, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def tokens(col: Column | str) -> Column:
    """array<string> of normalized tokens (empty strings removed)."""
    return F.filter(F.split(normalize(col), " "), lambda x: x != F.lit(""))


def shingles(tok: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles joined with '_'. Empty array when the
    document is shorter than n tokens."""
    make = F.transform(
        F.sequence(F.lit(0), F.size(tok) - n),
        lambda i: F.concat_ws("_", *[F.element_at(tok, i + j + 1) for j in range(n)]),
    )
    return F.array_distinct(F.when(F.size(tok) >= n, make).otherwise(F.array()))


def _with_tokens(df: DataFrame, text_col: str, keep: list[str]) -> DataFrame:
    """Project the token array ONCE into a ``_t`` column. Tokenization
    (regex replace + split) is the dominant per-row cost; higher-order-
    function lambdas defeat Catalyst subexpression elimination, so every
    downstream consumer must read ``_t`` rather than re-derive it."""
    return df.select(*keep, tokens(text_col).alias("_t"))


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting: total and distinct tokens per document."""
    t = F.col("_t")
    return _with_tokens(df, text_col, [id_col]).select(
        F.col(id_col),
        F.size(t).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("bigint").alias("n_uniq_tokens"),
    )


# BPE-ish pre-tokenizer pattern (GPT-2 style, simplified to RE2-safe
# constructs): contraction suffixes, letter runs, digit runs, non-space
# punctuation runs — each with an optional leading space, the shape BPE
# vocabularies are trained on. Counting these approximates LLM token
# counts far better than whitespace splitting (punctuation and numbers
# tokenize separately).
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"


def bpe_token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PATTERN), F.lit(0))).cast("bigint")


def bpe_token_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Token counting, LLM-budget flavor: whitespace words vs BPE-ish
    pre-tokens per document, plus their ratio (tokens-per-word is the
    usual cost multiplier when budgeting a corpus)."""
    words = F.size(tokens(text_col)).cast("bigint")
    bpe = bpe_token_count(text_col)
    return df.select(
        F.col(id_col),
        words.alias("n_words"),
        bpe.alias("n_bpe_tokens"),
        (bpe.cast("double") / F.greatest(words, F.lit(1)).cast("double")).alias(
            "tokens_per_word"
        ),
    )


def quality_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Quality-scoring features: length, punctuation ratio, stopword
    ratio, token diversity. All exact-integer-derived doubles."""
    staged = _with_tokens(df, text_col, [id_col, text_col])
    t = F.col("_t")
    raw = F.col(text_col)
    n_chars = F.length(raw).cast("bigint")
    n_punct = (
        n_chars - F.length(F.regexp_replace(raw, r"[^a-zA-Z0-9\s]", ""))
    ).cast("bigint")
    sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(sw, x))).cast("bigint")
    n_tok = F.size(t).cast("bigint")
    n_uniq = F.size(F.array_distinct(t)).cast("bigint")
    return staged.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        (n_punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")).alias(
            "punct_ratio"
        ),
        (n_stop.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")).alias(
            "stopword_ratio"
        ),
        (n_uniq.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")).alias(
            "uniq_ratio"
        ),
    )


def readability(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch–Kincaid grade-level readability (Kincaid et al. 1975) from
    three in-row counts: words (the shared token definition), sentences
    (runs of ``.!?``, floored at 1 so a fragment counts as one
    sentence), and a syllable PROXY (vowel-group runs ``[aeiouy]+`` —
    the standard dictionary-free approximation; consistent, not
    phonetically exact). grade = 0.39·words/sentence +
    11.8·syllables/word − 15.59; NULL for token-less documents.

    Pure per-row regex/array expressions — scan-local, zero shuffle,
    whole-stage codegen; pipelines into the same scan as the other
    quality features. The grade is a fixed three-term double expression
    over exact integer counts, evaluated in the same order by any
    engine — hash-stable.

    Output: (id_col, n_words, n_sentences, n_syllables, fk_grade).
    """
    staged = _with_tokens(df, text_col, [id_col, text_col])
    n_words = F.size(F.col("_t")).cast("bigint")
    n_sent = F.greatest(
        F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")), F.lit(1)
    ).cast("bigint")
    n_syl = F.regexp_count(F.lower(F.col(text_col)), F.lit("[aeiouy]+")).cast(
        "bigint"
    )
    grade = (
        F.lit(0.39) * (n_words.cast("double") / n_sent.cast("double"))
        + F.lit(11.8) * (n_syl.cast("double") / n_words.cast("double"))
        - F.lit(15.59)
    )
    return staged.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
        F.when(n_words > 0, grade).alias("fk_grade"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    max_punct_ratio: float = 0.3,
    min_stopword_ratio: float = 0.01,
    min_uniq_ratio: float = 0.3,
) -> DataFrame:
    """Corpus curation gate: the standard cheap-heuristic quality
    filter for training data (C4/Gopher-style thresholds on length,
    punctuation density, stopword presence, and token diversity), built
    on quality_features. Returns the input rows that pass, plus the
    computed ``quality_flags`` struct for audit (which rule would have
    rejected). All scan-local column math — at 100 TB this gates the
    corpus in the same pass that reads it."""
    feats = quality_features(df, text_col, id_col)
    flags = F.struct(
        (F.col("n_tokens") >= min_tokens).alias("len_ok"),
        (F.col("punct_ratio") <= max_punct_ratio).alias("punct_ok"),
        (F.col("stopword_ratio") >= min_stopword_ratio).alias("stopword_ok"),
        (F.col("uniq_ratio") >= min_uniq_ratio).alias("uniq_ok"),
    )
    scored = feats.select(F.col(id_col), flags.alias("quality_flags"))
    passed = scored.filter(
        F.col("quality_flags.len_ok")
        & F.col("quality_flags.punct_ok")
        & F.col("quality_flags.stopword_ok")
        & F.col("quality_flags.uniq_ok")
    )
    return df.join(passed, id_col).select(*df.columns, "quality_flags")


def language_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Stopword-voting language ID: count stopword hits per language,
    argmax with deterministic lexicographic tie-break; 'und'
    (undetermined) when no list scores a hit."""
    staged = _with_tokens(df, text_col, [id_col])
    t = F.col("_t")

    def _hit_count(words: list[str]) -> Column:
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(t, lambda x: F.array_contains(arr, x))).cast("bigint")

    hits = {lang: _hit_count(words) for lang, words in STOPWORDS.items()}
    # argmax by (hits desc, lang asc) via greatest over structs
    best = F.greatest(
        *[
            F.struct(h.alias("h"), F.lit(-ord(lang[0]) * 256 - ord(lang[1])).alias("o"),
                     F.lit(lang).alias("lang"))
            for lang, h in hits.items()
        ]
    )
    out = staged.select(
        F.col(id_col),
        *[h.alias(f"hits_{lang}") for lang, h in hits.items()],
        F.when(best["h"] > 0, best["lang"]).otherwise("und").alias("pred_lang"),
    )
    return out


def fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Document fingerprinting: md5 of the normalized text (exact
    identity) plus a k-min sketch over shingle hashes (winnowing-style
    robust fingerprint — equal for docs sharing their k smallest
    shingle hashes)."""
    t = tokens(text_col)
    sh = shingles(t, shingle_n)
    hashes = F.array_sort(F.transform(sh, F.md5))
    kmin = F.concat_ws("", F.slice(hashes, 1, k))
    return df.select(
        F.col(id_col),
        F.md5(normalize(text_col)).alias("exact_fp"),
        F.md5(kmin).alias("kmin_fp"),
    )


def _gram_list(tok: Column, n: int) -> Column:
    """NON-distinct word n-grams in order (cf. ``shingles`` which
    distincts for set semantics): repetition metrics need multiplicity."""
    make = F.transform(
        F.sequence(F.lit(0), F.size(tok) - n),
        lambda i: F.concat_ws("_", *[F.element_at(tok, i + j + 1) for j in range(n)]),
    )
    return F.when(F.size(tok) >= n, make).otherwise(F.array())


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document character-level Shannon entropy — the classic
    gibberish / encoding-noise / base64-blob detector (CCNet-family
    pipelines threshold on it next to the LM perplexity): natural text
    sits near 4–4.5 bits/char, random base64 near 6, single-char spam
    near 0. H = log2(n) − (Σ c·log2 c)/n over the exact character
    histogram.

    Shape: one explode → (doc, char) hash agg (map-side combinable,
    the byte_histogram discipline) → one per-doc agg. Cross-engine
    floats: log2 can differ by an ulp between engines and the Σ over
    characters is reassociation-ordered, so the emitted entropy is
    ROUNDED to 9 decimals — the bm25_topk precedent — making the
    driver hash stable while keeping far more precision than any
    downstream threshold needs. Empty documents are dropped (no
    characters, no distribution).

    Output: (id_col, n_chars, n_distinct, entropy)."""
    ch = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).filter(F.col("ch") != "")
    hist = ch.groupBy(id_col, "ch").agg(F.count("*").alias("c"))
    term = F.col("c").cast("double") * F.log2(F.col("c").cast("double"))
    agg = hist.groupBy(id_col).agg(
        F.sum("c").cast("bigint").alias("n_chars"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.sum(term).alias("__t"),
    )
    ent = F.log2(F.col("n_chars").cast("double")) - F.col("__t") / F.col(
        "n_chars"
    ).cast("double")
    return agg.select(
        id_col,
        "n_chars",
        "n_distinct",
        F.round(ent, 9).alias("entropy"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document (extension tier —
    training-data quality filtering; published in the Gopher/MassiveText
    data-curation literature):

    * ``top_bigram_frac``  — occurrences of the most frequent word
      bigram over all bigram occurrences (boilerplate detector);
    * ``dup_trigram_frac`` — fraction of trigram occurrences that are
      repeats: (total - distinct) / total (template/spam detector).

    Documents with fewer than 2 tokens emit no row (no bigrams to
    measure). Physical shape: the trigram ratio is computed fully
    in-row (array fold, scan-local); the bigram mode needs a
    (doc, bigram) count — one explode + two hash aggregations keyed by
    doc_id, the scalable shape for billion-doc corpora (an in-row mode
    would be O(len²) per document)."""
    t = F.col("_t")
    # pre-filter on the cheap equivalent predicate (normalize is
    # single-spaced, so containing ' ' ⟺ ≥2 tokens): a size(_t) filter
    # above the projection is pushed below it and re-inlines the whole
    # tokenize into the predicate (the r9 HOF-pushdown double-eval)
    staged = (
        _with_tokens(
            df.filter(F.contains(normalize(text_col), F.lit(" "))),
            text_col,
            [id_col],
        )
        .select(
            F.col(id_col),
            _gram_list(t, 2).alias("_bg"),
            _gram_list(t, 3).alias("_tg"),
        )
    )
    tri_total = F.size("_tg").cast("bigint")
    tri_dis = F.size(F.array_distinct("_tg")).cast("bigint")
    tri = staged.select(
        F.col(id_col),
        F.when(
            tri_total > 0,
            (tri_total - tri_dis).cast("double") / tri_total.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_trigram_frac"),
    )
    bg_counts = (
        staged.select(F.col(id_col), F.explode("_bg").alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count("*").alias("n"))
    )
    bg = bg_counts.groupBy(id_col).agg(
        F.sum("n").cast("bigint").alias("n_bigrams"),
        F.max("n").cast("bigint").alias("top_bigram_n"),
    )
    out = bg.join(tri, id_col).withColumn(
        "top_bigram_frac",
        F.col("top_bigram_n").cast("double") / F.col("n_bigrams").cast("double"),
    )
    return out.select(
        id_col, "n_bigrams", "top_bigram_n", "top_bigram_frac", "dup_trigram_frac"
    )


_HTML_ENTITIES = (  # decode &amp; LAST so "&amp;lt;" → "&lt;", not "<"
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def clean_html(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4-style markup cleaning (extension tier — no reference
    file:line): strip HTML/XML tags, decode the common entities, and
    collapse whitespace. Pure per-row regex/replace chain — no shuffle,
    no Python; the 100 TB cost is one codegen'd projection over the
    corpus scan.

    Output: (id_col, text, n_chars) with the cleaned text."""
    c = F.regexp_replace(F.col(text_col), "<[^>]*>", " ")
    for ent, rep in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.select(
        F.col(id_col),
        c.alias("text"),
        F.length(c).cast("bigint").alias("n_chars"),
    )


def pii_mask(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrubbing for training corpora (extension tier): mask email
    addresses and long digit runs (phone/account/card numbers), and
    count what was masked. The two patterns are deliberately in the
    common regex subset (no lookaround, no backrefs) so Java regex and
    RE2 engines agree byte-for-byte. Per-row projection — shuffle-free.

    Output: (id_col, text, n_emails, n_longnums)."""
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    longnum = "[0-9]{7,}"
    t = F.col(text_col)
    masked = F.regexp_replace(
        F.regexp_replace(t, email, "<EMAIL>"), longnum, "<NUM>"
    )
    return df.select(
        F.col(id_col),
        masked.alias("text"),
        F.regexp_count(t, F.lit(email)).cast("bigint").alias("n_emails"),
        F.regexp_count(t, F.lit(longnum)).cast("bigint").alias("n_longnums"),
    )


def top_terms(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document top-k salient terms ranked by rel-freq score
    tf / df (term frequency in the doc over corpus document frequency —
    rare-in-corpus terms win, the tf-idf ordering with an
    engine-portable score: one exact-integer division instead of a
    transcendental log whose last ulp differs between runtimes).

    Physical shape: explode → (doc, term) count → term df (the term
    dimension aggregates map-side and is small) → broadcast back →
    per-doc top-k window. Two shuffles total, both on pre-aggregated
    rows. Ties break lexicographically on the term.

    Output: (id_col, term, tf, df, score) — ≤ k rows per document."""
    t = _with_tokens(df, text_col, [id_col])
    pairs = (
        t.select(F.col(id_col), F.explode("_t").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    # df via a count window over the SAME pairs relation: one evaluation
    # of the explode subtree (a join against a separate groupBy(term)
    # aggregate would compute it twice) and no broadcast of an
    # unbounded vocab dimension
    scored = pairs.withColumn(
        "df", F.count("*").over(W.partitionBy("term"))
    ).withColumn("score", F.col("tf").cast("double") / F.col("df").cast("double"))
    w = W.partitionBy(id_col).orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k))
        .select(F.col(id_col), "term", "tf", "df", "score")
    )


def unigram_jsd(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Lexical drift monitor: Jensen–Shannon divergence between the
    unigram distributions of two deterministic halves of the corpus
    (md5(id) first hex < '8' → half 'a') — the text-distribution twin
    of the embedding centroid-drift check. JSD ∈ [0, ln 2]; near 0
    means both halves draw from the same vocabulary distribution, a
    jump flags source drift or a template flood. In production the
    halves are time periods or sources; the hash-half form is the
    reproducible fixture statistic.

    Exactness: every log argument reduces to an INTEGER ratio —
    p_a/m = 2·cnt_a·N_b / (cnt_a·N_b + cnt_b·N_a) — so the ln inputs
    are identical on any engine; per-term contributions are scaled to
    integers (round(ln·1e6)) and accumulated as exact bigint products
    (|cnt·le6| ≤ 2·10¹¹ per term — far inside bigint), with three
    fixed-order float ops at the very end. Zero-count terms contribute
    exactly 0 (the JSD limit), so no smoothing is needed.

    Shape: one token explode → (term, half) hash agg (map-side
    combined) → one conditional-sum re-group to a row per term → a
    1-row totals cross join (broadcast) → one final agg. The shuffle
    carries one row per distinct term.

    Output: one row (n_terms, n_a, n_b, jsd).
    """
    half = F.when(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 1) < "8", "a"
    ).otherwise("b")
    t = _with_tokens(df, text_col, [id_col]).select(
        half.alias("half"), F.explode("_t").alias("term")
    )
    per = t.groupBy("term").agg(
        F.sum(F.when(F.col("half") == "a", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("half") == "b", 1).otherwise(0)).alias("cb"),
    )
    totals = per.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    j = per.crossJoin(F.broadcast(totals))
    # ln args as exact integer ratios; le6-scaled contributions
    denom = F.col("ca") * F.col("nb") + F.col("cb") * F.col("na")
    la = F.round(
        F.log(
            (2 * F.col("ca") * F.col("nb")).cast("double") / denom.cast("double")
        )
        * 1e6
    ).cast("bigint")
    lb = F.round(
        F.log(
            (2 * F.col("cb") * F.col("na")).cast("double") / denom.cast("double")
        )
        * 1e6
    ).cast("bigint")
    agg = j.agg(
        F.count("*").alias("n_terms"),
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.sum(F.when(F.col("ca") > 0, F.col("ca") * la).otherwise(0)).alias("__sa"),
        F.sum(F.when(F.col("cb") > 0, F.col("cb") * lb).otherwise(0)).alias("__sb"),
    )
    jsd = (
        F.lit(0.5)
        * (
            F.col("__sa").cast("double") / F.col("n_a").cast("double")
            + F.col("__sb").cast("double") / F.col("n_b").cast("double")
        )
        / F.lit(1e6)
    )
    return agg.filter((F.col("n_a") > 0) & (F.col("n_b") > 0)).select(
        "n_terms", "n_a", "n_b", jsd.alias("jsd")
    )


def zipf_slope(
    df: DataFrame, top_n: int = 100, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-health check: least-squares slope of log(frequency) vs
    log(rank) over the ``top_n`` most frequent terms. Natural-language
    corpora follow Zipf's law with slope ≈ −1; a much flatter or
    steeper fit flags template/boilerplate floods or synthetic text —
    a one-number drift monitor for an ingest pipeline.

    Physical shape: one explode → term-count hash agg (map-side
    combined; the shuffle carries one row per distinct term), then the
    top-N selection is ``orderBy().limit()`` — Catalyst compiles it to
    TakeOrderedAndProject, each partition forwarding only its local
    top-N. The regression runs over exactly ``top_n`` rows (the rank
    window is bounded by that constant, not the corpus). Determinism:
    ln values are scaled to integers (round(ln·1e6), the same
    convention as the LM scorers), co-moments accumulate as exact
    bigint sums (|Σxy| ≤ n·(ln(cnt)·1e6)² ≈ 1e16 ≪ 2⁶³), and the
    slope is a single double division — bit-stable across engines and
    partitionings. Ties rank lexicographically on the term.

    Output: one row (n_terms, zipf_slope); empty corpus → zero rows.
    """
    t = _with_tokens(df, text_col, [id_col])
    counts = (
        t.select(F.explode("_t").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    top = counts.orderBy(F.col("cnt").desc(), "term").limit(int(top_n))
    w = W.orderBy(F.col("cnt").desc(), "term")
    le6 = lambda c: F.round(F.log(c.cast("double")) * 1e6).cast("bigint")
    ranked = top.select(
        le6(F.row_number().over(w).cast("bigint")).alias("x"),
        le6(F.col("cnt")).alias("y"),
    )
    agg = ranked.agg(
        F.count("*").alias("n_terms"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (
        (F.col("n_terms") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n_terms") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    return agg.filter(F.col("n_terms") >= 2).select(
        "n_terms", slope.alias("zipf_slope")
    )


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
    round_digits: int = 9,
) -> DataFrame:
    """BM25 full-text retrieval: score every document sharing at least
    one term with each query, return the top-``k`` per query (Robertson
    BM25 with the Lucene IDF form, ln(1 + (N - df + .5)/(df + .5))).

    100 TB shape — the classic inverted-index plan, one corpus scan:

    * postings (doc, term, tf) + doc lengths come from a single explode
      + two map-side-combinable aggregations;
    * the query term list is tiny and BROADCASTS; the postings join
      discards every non-query term before any shuffle (semi-join
      pruning — the corpus-side shuffle carries only matching postings);
    * per-term document frequencies are computed on the pruned postings
      only (df of non-query terms is never materialized);
    * corpus constants (N, avgdl) ride along as a broadcast 1-row join,
      never a driver collect;
    * top-k per query is a ranked window over the (small) scored set.

    Scores are rounded to ``round_digits`` decimals so the ln/division
    float path is stable across engines (1-ulp libm differences vanish;
    ordering uses the rounded score with doc id tiebreak). Repeated
    query terms count once (distinct-term BM25). Output:
    (query_id, doc_id, score, rank).
    """
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_len")
    )
    qterms = queries.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(tokens(query_text_col))).alias("term"),
    )
    hits = tf.join(F.broadcast(qterms), "term")
    dft = hits.groupBy("term").agg(
        F.count_distinct(id_col).alias("dft")
    )
    scored_terms = (
        hits.join(F.broadcast(dft), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("total_len").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dft") + F.lit(0.5))
        / (F.col("dft") + F.lit(0.5))
    )
    tf_d = F.col("tf").cast("double")
    denom = tf_d + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / avgdl
    )
    per_term = idf * tf_d * F.lit(k1 + 1.0) / denom
    agg = (
        scored_terms.select(query_id_col, id_col, per_term.alias("__s"))
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("__s"), round_digits).alias("score"))
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= int(k))
        .select(query_id_col, id_col, "score", "rank")
    )


def hashing_trick_embed(
    df: DataFrame,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    as_array: bool = False,
) -> DataFrame:
    """Feature-hashing ("hashing trick") text embedding: dimension
    j accumulates +1/-1 per distinct token whose md5 buckets to j
    (bucket = first 4 hex digits mod ``dim``, sign = 5th hex digit
    MSB) — the signed random-projection variant of Weinberger et al.,
    ICML'09. No vocabulary, no training, deterministic across engines —
    the cheap embedding that bootstraps ANN indexing / clustering /
    near-dup detection before a learned model exists.

    Fully in-row (one fold over the distinct-token md5 array, like
    ``dedup.simhash_fingerprint``): zero shuffle for the array form —
    at 100 TB this is a pure map stage. Integer weights, so downstream
    cosine arithmetic stays exact. Token-less docs are dropped.

    Output: ``as_array=True`` → (id_col, embedding array<bigint>);
    else long form (id_col, dim_idx, weight) with ALL ``dim`` entries
    per doc (zeros kept — cancellation is information).
    """
    n = int(dim)
    hs = F.transform(F.array_distinct(tokens(text_col)), F.md5)
    bucket = lambda x: F.conv(F.substring(x, 1, 4), 16, 10).cast("bigint") % n
    sign = lambda x: F.when(
        F.substring(x, 5, 1).between("8", "f"), F.lit(1)
    ).otherwise(F.lit(-1))
    # (bucket, sign) precomputed ONCE per token: HOF lambdas inline
    # expression trees at every reference, so folding over the raw md5
    # strings would redo the substring/conv ``dim`` times per token
    # (same pathology fixed in simhash_fingerprint's packed votes).
    bs = F.transform(
        hs, lambda x: F.struct(bucket(x).alias("b"), sign(x).alias("s"))
    )
    # Token-less docs are excluded with the cheap pre-filter
    # normalize(text) != '' (⟺ ≥1 token) BEFORE the projection: a
    # size(__bs) > 0 filter above it would be pushed back down with the
    # whole md5/bucket/sign transform inlined into the predicate,
    # building the array twice per row (the r9 streaming-minhash
    # lesson; CSE cannot reach through HOF lambdas).
    staged = df.filter(normalize(text_col) != "").select(
        F.col(id_col), bs.alias("__bs")
    )
    emb = F.aggregate(
        F.col("__bs"),
        F.array_repeat(F.lit(0).cast("bigint"), n),
        lambda acc, t: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda a, j: a + F.when(t["b"] == j, t["s"]).otherwise(0),
        ),
    )
    out = staged.select(F.col(id_col), emb.alias("embedding"))
    if as_array:
        return out
    return out.select(
        F.col(id_col), F.posexplode("embedding").alias("dim_idx", "weight")
    ).select(
        F.col(id_col), F.col("dim_idx").cast("bigint"), F.col("weight").cast("bigint")
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 9,
) -> DataFrame:
    """Per-document unigram LM score against the corpus's own term
    distribution — the CCNet-style perplexity quality signal with the
    LM trained on the data itself (no external model): each token
    contributes ln(count(term)/total_tokens); the per-token average
    negative log-prob is low for typical documents and high for
    gibberish / rare-vocabulary outliers.

    Exactness discipline: every per-term ln is rounded to
    ``round_digits`` decimals and scaled to an INTEGER before any
    summation, so document totals are order-free bigint sums — no float
    accumulation path exists across engines (the only residual risk is
    a 1-ulp libm ln() difference exactly on a rounding boundary).

    100 TB shape, one corpus scan: tf per (doc, term) is one hash agg
    on the exploded tokens; term totals derive from tf (co-keyed on the
    term — exchange reuse, no second scan); the grand total is a 1-row
    broadcast; the tf⋈counts join shuffles on the term key. Skew note:
    stopword terms are hot keys in the join, but the per-key payload is
    (term, count) — one row — so the broadcastable count side never
    amplifies; AQE handles the tf-side split.

    Output: (id, dl, nll_e9, avg_nll) — dl = token count, nll_e9 = the
    exact scaled integer total, avg_nll = rounded per-token average.
    """
    t = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    tf = t.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    cnt = tf.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    tot = cnt.agg(F.sum("cnt").alias("total"))
    le9 = F.round(
        F.log(F.col("cnt").cast("double") / F.col("total").cast("double"))
        * F.lit(10.0 ** round_digits)
    ).cast("bigint")
    term = (
        tf.join(cnt, "tok")
        .join(F.broadcast(tot))
        .select(F.col(id_col), "tf", le9.alias("le9"))
    )
    return term.groupBy(id_col).agg(
        F.sum("tf").cast("bigint").alias("dl"),
        (-F.sum(F.col("le9") * F.col("tf"))).cast("bigint").alias("nll_e9"),
        F.round(
            (-F.sum(F.col("le9") * F.col("tf"))).cast("double")
            / F.sum("tf")
            / F.lit(10.0 ** round_digits),
            round_digits,
        ).alias("avg_nll"),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.8,
    round_digits: int = 9,
) -> DataFrame:
    """Per-document bigram LM score against the corpus's own statistics
    with Jelinek-Mercer interpolation (the next step up from
    ``unigram_logprob`` in CCNet-style quality scoring — fluent word
    ORDER now matters, so shuffled/boilerplate-spliced text scores
    worse than its unigram perplexity suggests):

        p(w2|w1) = lam * c(w1w2)/c(w1·) + (1-lam) * c(w2)/T

    where c(w1w2) is the corpus bigram count, c(w1·) the bigram-context
    marginal, c(w2) the unigram count and T total tokens. Every
    per-bigram ln(p) is rounded to ``round_digits`` and scaled to an
    INTEGER before any summation (same exactness discipline as the
    unigram scorer: document totals are order-free bigint sums; the
    only residual cross-engine risk is a 1-ulp libm ln() boundary).

    100 TB shape: bigrams are built IN-ROW from the token array (no
    window, no self-join), one hash agg each for doc-level tf and
    corpus counts (map-side combined), the context marginal derives
    from the bigram counts (groupBy on the already-shuffled key's
    prefix), and the probability join shuffles on the bigram key with
    one-row-per-key count sides (hot stopword bigrams skew-split by
    AQE; the count side never amplifies). T is a 1-row broadcast.

    Output: (id, n_bigrams, nll_e9, avg_nll) — documents with < 2
    tokens emit no row (no bigrams to score).
    """
    bg = df.select(
        F.col(id_col), F.explode(_gram_list(tokens(text_col), 2)).alias("bg")
    )
    # tf feeds the probability join AND (via cbg) both count relations;
    # unpersisted, Catalyst would replay the bigram explode+agg once per
    # consumer (no cross-branch subtree reuse) — measured 3x slower at
    # sf0.1. Persisting the (doc, bigram, tf) relation is the standard
    # multi-consumer trade; it spills to disk at corpus scale. The
    # result is lazy, so the CALLER owns the cache lifetime (unpersist /
    # clearCache after materializing) — same contract as
    # dedup.minhash_estimate_pairs.
    tf = bg.groupBy(id_col, "bg").agg(F.count("*").alias("tf")).persist()
    cbg = tf.groupBy("bg").agg(F.sum("tf").alias("cbg"))
    c1 = (
        cbg.groupBy(F.substring_index("bg", "_", 1).alias("w1"))
        .agg(F.sum("cbg").alias("c1"))
    )
    uni = df.select(F.explode(tokens(text_col)).alias("tok"))
    # cu is vocabulary-sized; persisted so the grand total doesn't replay
    # the token explode.
    cu = uni.groupBy("tok").agg(F.count("*").alias("cu")).persist()
    tot = cu.agg(F.sum("cu").alias("total"))
    p = (
        F.lit(float(lam)) * (F.col("cbg").cast("double") / F.col("c1").cast("double"))
        + F.lit(1.0 - float(lam))
        * (F.col("cu").cast("double") / F.col("total").cast("double"))
    )
    le9 = F.round(F.log(p) * F.lit(10.0 ** round_digits)).cast("bigint")
    term = (
        tf.join(cbg, "bg")
        .join(c1, F.substring_index(tf["bg"], "_", 1) == F.col("w1"))
        .join(cu, F.substring_index(tf["bg"], "_", -1) == F.col("tok"))
        .join(F.broadcast(tot))
        .select(F.col(id_col), "tf", le9.alias("le9"))
    )
    return term.groupBy(id_col).agg(
        F.sum("tf").cast("bigint").alias("n_bigrams"),
        (-F.sum(F.col("le9") * F.col("tf"))).cast("bigint").alias("nll_e9"),
        F.round(
            (-F.sum(F.col("le9") * F.col("tf"))).cast("double")
            / F.sum("tf")
            / F.lit(10.0 ** round_digits),
            round_digits,
        ).alias("avg_nll"),
    )


def jaccard_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
) -> DataFrame:
    """Set-overlap retrieval: rank documents by Jaccard similarity of
    DISTINCT query terms vs distinct document terms — the pure
    set-based lexical signal (tf- and length-free), complementary to
    BM25's tf-idf weighting. Same inverted-index shape as
    ``bm25_topk``: the broadcast query-term join prunes the corpus
    before any shuffle; only docs sharing >= 1 term are scored.

    Output: (query_id, doc_id, jaccard, rank) — rank by (jaccard desc,
    doc_id asc), top-``k`` per query."""
    dt = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("term")
    )
    dsz = dt.groupBy(id_col).agg(F.count("*").alias("dsz"))
    qt = queries.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(tokens(query_text_col))).alias("term"),
    )
    qsz = qt.groupBy(query_id_col).agg(F.count("*").alias("qsz"))
    ov = (
        dt.join(F.broadcast(qt), "term")
        .groupBy(query_id_col, id_col)
        .agg(F.count("*").alias("ov"))
    )
    jac = F.col("ov").cast("double") / (
        F.col("qsz") + F.col("dsz") - F.col("ov")
    ).cast("double")
    scored = (
        ov.join(F.broadcast(qsz), query_id_col)
        .join(dsz, id_col)
        .select(query_id_col, id_col, jac.alias("jaccard"))
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.col("jaccard").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= int(k))
        .select(query_id_col, id_col, "jaccard", "rank")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k_rrf: int = 60,
    topk: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of N ranked
    lists — the standard hybrid-retrieval combiner (lexical BM25 +
    dense ANN in a RAG data pipeline): each list contributes
    1/(k_rrf + rank) per (query, doc); documents high on ANY list
    surface.

    Exactness discipline: each contribution is scaled to an INTEGER
    (round(1e9/(k_rrf+rank))) before summation, so fused totals are
    order-free bigint sums — rank is reproducible across engines and
    partitionings. Physical shape: union of already-tiny top-k lists →
    one hash aggregation; cost is bounded by sum of list sizes, never
    the corpus.

    Output: (query_id, doc_id, rrf_e9, n_lists, rank) — top-``topk``
    per query by (rrf_e9 desc, doc_id asc)."""
    if not rankings:
        raise ValueError("rankings must be non-empty")
    contribs = [
        r.select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(F.lit(1e9) / (F.lit(int(k_rrf)) + F.col("rank")))
            .cast("bigint")
            .alias("__c"),
        )
        for r in rankings
    ]
    u = contribs[0]
    for c in contribs[1:]:
        u = u.unionAll(c)
    fused = u.groupBy(query_id_col, id_col).agg(
        F.sum("__c").cast("bigint").alias("rrf_e9"),
        F.count("*").alias("n_lists"),
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.col("rrf_e9").desc(), F.col(id_col).asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= int(topk))
        .select(query_id_col, id_col, "rrf_e9", "n_lists", "rank")
    )


def bpe_pair_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 20,
) -> DataFrame:
    """First merge step of byte-pair-encoding vocabulary training
    (Sennrich et al., ACL 2016): corpus-wide adjacent character-pair
    frequencies, the statistic the BPE trainer maximizes when it picks
    a merge. Returns the ``top_n`` most frequent pairs.

    Physical shape — the reason this survives 100 TB: pair explosion
    happens at VOCABULARY grain, not corpus grain. One map-side-
    combinable word-count agg reduces the corpus to its distinct
    vocabulary (the shuffle carries one row per distinct word), then
    each word is split into characters ONCE and its pairs weighted by
    the word count — a word occurring 10^9 times contributes one
    vocabulary row, not 10^9 explosions. The final top-n compiles to
    TakeOrderedAndProject (per-partition heaps, k-row driver merge).
    All-integer counts; the cutoff tie breaks on the pair string, so
    the selected set is deterministic across engines.

    Output: (pair, n_occ), the top_n pairs by corpus frequency.
    """
    wc = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("n"))
        .filter(F.length("w") >= 2)
    )
    pair_list = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.col("w").substr(i, F.lit(2)),
    )
    return (
        wc.select(F.explode(pair_list).alias("pair"), "n")
        .groupBy("pair")
        .agg(F.sum("n").cast("bigint").alias("n_occ"))
        .orderBy(F.col("n_occ").desc(), F.col("pair"))
        .limit(int(top_n))
    )


def fertility_by_lang(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word, the multiplier LLM-data teams budget by when mixing languages
    (a fertility-2 language costs twice the context per word). One
    in-row pass computes both counts; ONE map-side-combinable hash agg
    groups by language — the shuffle carries one row per language. The
    ratio is a single division of exact bigint sums, so it is
    bit-stable across engines and partitionings.

    Output: (lang, n_docs, n_words, n_bpe_tokens, fertility).
    """
    words = F.size(tokens(text_col)).cast("bigint")
    bpe = bpe_token_count(text_col)
    return (
        df.select(F.col(lang_col), words.alias("__w"), bpe.alias("__b"))
        .groupBy(lang_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__w").cast("bigint").alias("n_words"),
            F.sum("__b").cast("bigint").alias("n_bpe_tokens"),
            (
                F.sum("__b").cast("double")
                / F.greatest(F.sum("__w"), F.lit(1)).cast("double")
            ).alias("fertility"),
        )
    )


def token_entropy_by_lang(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    round_digits: int = 9,
) -> DataFrame:
    """Per-language unigram token entropy — the corpus-health companion
    to ``zipf_slope``: H = −Σ_w p_w ln p_w over the language's token
    distribution (p_w = count(w)/N). Low entropy flags a degenerate or
    boilerplate-dominated slice before training wastes compute on it;
    entropy in nats is also the tight lower bound on achievable
    per-token NLL, so comparing a model's NLL to H says how much signal
    is left.

    Exactness: per-term ln rounded to ``round_digits`` and
    integer-scaled before summation, weighted by exact integer counts
    (the ``unigram_logprob`` idiom) — order-free bigint totals. Shape:
    one explode → (lang, token) hash agg (vocabulary-grain — Heaps-law
    bounded), one per-lang total broadcast-joined back, one final agg.

    Output: (lang, n_tokens, vocab_size, entropy_sum_e9, entropy) —
    ``entropy_sum_e9`` is the integer-scaled total (sum of c*ln p,
    negated), ``entropy`` the per-token nats.
    """
    t = df.select(F.col(lang_col).alias("lang"), F.explode(tokens(text_col)).alias("tok"))
    cnt = t.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    tot = cnt.groupBy("lang").agg(
        F.sum("c").alias("n"), F.count("*").alias("v")
    )
    le9 = F.round(
        F.log(F.col("c").cast("double") / F.col("n").cast("double"))
        * F.lit(10.0 ** round_digits)
    ).cast("bigint")
    return (
        cnt.join(F.broadcast(tot), "lang")
        .select("lang", "n", "v", (F.col("c") * le9).alias("__we9"))
        .groupBy("lang")
        .agg(
            F.max("n").cast("bigint").alias("n_tokens"),
            F.max("v").cast("bigint").alias("vocab_size"),
            F.sum("__we9").alias("__s"),
        )
        .select(
            "lang",
            "n_tokens",
            "vocab_size",
            (-F.col("__s")).cast("bigint").alias("entropy_sum_e9"),
            F.round(
                (-F.col("__s")).cast("double")
                / F.col("n_tokens")
                / F.lit(10.0 ** round_digits),
                round_digits,
            ).alias("entropy"),
        )
    )


def bpe_learn_merges(
    df: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules (Sennrich et al.
    2016) over the corpus — as a PURE DataFrame plan with ZERO driver
    collects: each round's argmax pair is a 1-row frame that rides as
    a broadcast scalar into the next round's vocabulary rewrite, so
    the whole n-step learning loop is one lazily-built plan the engine
    executes end to end (the repo-wide no-``collect()`` invariant
    holds even for this inherently iterative algorithm).

    Vocabulary grain throughout (the ``bpe_pair_stats`` rationale): the
    corpus collapses to distinct words × counts before any character
    work, so per-round cost is Heaps-law bounded, never corpus-sized.
    Words are held as space-joined symbol strings padded with sentinel
    spaces; pair counts come from an in-row zip of adjacent symbols
    weighted by word count (overlapping occurrences counted, the BPE
    convention); the winning pair is ``orderBy(count desc, left,
    right).limit(1)`` — a TakeOrderedAndProject with a deterministic
    tie-break; the merge applies as TWO ``replace`` passes of
    ``' l r ' → ' lr '`` (consecutive occurrences share a delimiter
    space, so one scan-resume-after-match pass merges the odd
    occurrences and a second pass the rest — two passes are always
    sufficient because a merge never creates a new unmerged
    occurrence; neither engine rescans replacement text, so the greedy
    left-to-right result is engine-identical).

    Output: (step, left, right, merged, n_occ) — one row per learned
    rule, step 1-based; n_occ = the pair's corpus count when selected.
    """
    spark = df.sparkSession
    words = df.select(F.explode(tokens(text_col)).alias("word"))
    wc = words.groupBy("word").agg(F.count("*").alias("cnt"))
    spaced = F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 "))
    vocab = wc.select(
        F.concat(F.lit(" "), spaced, F.lit(" ")).alias("w"), "cnt"
    )

    outs = []
    for step in range(1, int(n_merges) + 1):
        syms = F.split(F.trim(F.col("w")), " ")
        pairs = F.zip_with(
            F.slice(syms, 1, F.size(syms) - 1),
            F.slice(syms, 2, F.size(syms) - 1),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        )
        pc = (
            vocab.select(F.explode(pairs).alias("p"), "cnt")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("n_occ"))
        )
        top = pc.orderBy(F.col("n_occ").desc(), "l", "r").limit(1)
        outs.append(
            top.select(
                F.lit(step).cast("bigint").alias("step"),
                F.col("l").alias("left"),
                F.col("r").alias("right"),
                F.concat("l", "r").alias("merged"),
                "n_occ",
            )
        )
        pat = F.concat(F.lit(" "), F.col("l"), F.lit(" "), F.col("r"), F.lit(" "))
        rep = F.concat(F.lit(" "), F.col("l"), F.col("r"), F.lit(" "))
        vocab = vocab.crossJoin(F.broadcast(top)).select(
            F.replace(F.replace(F.col("w"), pat, rep), pat, rep).alias("w"),
            "cnt",
        )

    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def bpe_encode_stats(
    df: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply the ``bpe_learn_merges`` rules back to the corpus and
    report per-document segmentation statistics — the encode half of
    the tokenizer loop (chars → symbols under the learned merges; the
    compression ratio is the signal tokenizer teams tune vocabulary
    size by). Still zero driver collects: the n learned rules pivot
    into ONE 1-row frame (conditional aggs over the rule steps) that
    broadcasts into an in-row per-word replace chain — rules applied
    in learning order, two passes each, inside a ``transform`` over
    the document's token array, so encoding is a map-only pass over
    the corpus.

    Output: (id, n_words, n_chars, n_syms, compression) —
    n_syms = symbol count after the merges, compression =
    n_chars / n_syms (double).
    """
    rules = bpe_learn_merges(df, n_merges, text_col)
    wide = rules.groupBy().agg(
        *[
            f
            for k in range(1, int(n_merges) + 1)
            for f in (
                F.min(F.when(F.col("step") == k, F.col("left"))).alias(f"l{k}"),
                F.min(F.when(F.col("step") == k, F.col("right"))).alias(f"r{k}"),
            )
        ]
    )

    def encode(word):
        spaced = F.concat(
            F.lit(" "), F.trim(F.regexp_replace(word, "(.)", "$1 ")), F.lit(" ")
        )
        w = spaced
        for k in range(1, int(n_merges) + 1):
            pat = F.concat(
                F.lit(" "), F.col(f"l{k}"), F.lit(" "), F.col(f"r{k}"), F.lit(" ")
            )
            rep = F.concat(F.lit(" "), F.col(f"l{k}"), F.col(f"r{k}"), F.lit(" "))
            w = F.replace(F.replace(w, pat, rep), pat, rep)
        return F.size(F.split(F.trim(w), " "))

    # pre-filter on the cheap equivalent predicate (⟺ ≥1 token): a
    # size(__toks) filter above the projection is pushed below it and
    # re-inlines the whole tokenize into the predicate — the r9
    # HOF-pushdown double-eval (measured 7.7s vs 1.0s elsewhere)
    base = df.filter(normalize(text_col) != "").select(
        F.col(id_col), tokens(text_col).alias("__toks")
    )
    per_doc = base.crossJoin(F.broadcast(wide)).select(
        id_col,
        F.size("__toks").cast("bigint").alias("n_words"),
        F.aggregate(
            F.transform(F.col("__toks"), lambda w: F.length(w).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("n_chars"),
        F.aggregate(
            F.transform(F.col("__toks"), lambda w: encode(w).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("n_syms"),
    )
    return per_doc.withColumn(
        "compression",
        F.col("n_chars").cast("double") / F.col("n_syms").cast("double"),
    )


# The Gopher/MassiveText quality-rule stopword probe (Rae et al. 2021,
# "Scaling Language Models: ... Gopher", Table A1 rules): a document
# must contain at least 2 of these 8 function words.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The full Gopher quality-rule set (Rae et al. 2021, MassiveText
    filtering, Table A1) as one scan-local projection — completing the
    partial coverage of ``quality_features``/``repetition_stats``:

    * word count in [``min_words``, ``max_words``];
    * mean word length in [3, 10] characters;
    * symbol-to-word ratio ('#' and '...' occurrences) ≤ 0.1;
    * ≤ 90% of lines starting with a bullet, ≤ 30% ending in an
      ellipsis (line rules — computed on the RAW text's newlines);
    * ≥ 80% of words containing at least one alphabetic character;
    * ≥ 2 of the 8 Gopher stopwords present.

    Exactness: every metric is a ratio of two exact integers (counts
    from the token array / raw text), so the single division per
    metric is bit-identical across engines. All pure column
    expressions — whole-stage codegen, zero shuffle, the 100 TB cost
    is the corpus scan itself.

    Output: (id, n_words, mean_word_len, symbol_ratio, bullet_frac,
    ellipsis_frac, alpha_frac, stop_hits, gopher_pass).
    """
    return df.select(
        F.col(id_col),
        *_gopher_metric_exprs(
            text_col,
            min_words,
            max_words,
            min_mean_word_len,
            max_mean_word_len,
            max_symbol_ratio,
            max_bullet_frac,
            max_ellipsis_frac,
            min_alpha_frac,
            min_stop_hits,
        ),
    )


def _gopher_metric_exprs(
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> list:
    """The Gopher metric columns of ``gopher_quality`` as a reusable
    aliased-expression list, so consumers that also need OTHER
    per-document expressions (``quality_perceptron``'s feature fold)
    can compute everything in ONE scan projection instead of a join of
    two scans. Expressions are byte-identical to the historical inline
    form — the oracle replays them."""
    toks = tokens(text_col)
    raw = F.col(text_col)
    n_words = F.size(toks).cast("bigint")
    d_words = F.greatest(n_words, F.lit(1)).cast("double")
    sum_len = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x)
    )
    mean_wl = sum_len.cast("double") / d_words
    n_hash = F.length(raw) - F.length(F.regexp_replace(raw, "#", ""))
    n_ell = (
        F.length(raw) - F.length(F.regexp_replace(raw, r"\.\.\.", ""))
    ) / F.lit(3)
    symbol_ratio = (n_hash + n_ell).cast("double") / d_words
    lines = F.split(raw, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("-") | l.startswith("*") | l.startswith("•"),
        )
    )
    n_ell_line = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    )
    bullet_frac = n_bullet.cast("double") / n_lines
    ellipsis_frac = n_ell_line.cast("double") / n_lines
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("bigint")
    alpha_frac = n_alpha.cast("double") / d_words
    stop_hits = sum(
        F.array_contains(toks, F.lit(w)).cast("int") for w in GOPHER_STOPWORDS
    ).cast("bigint")
    gopher_pass = (
        n_words.between(int(min_words), int(max_words))
        & mean_wl.between(float(min_mean_word_len), float(max_mean_word_len))
        & (symbol_ratio <= float(max_symbol_ratio))
        & (bullet_frac <= float(max_bullet_frac))
        & (ellipsis_frac <= float(max_ellipsis_frac))
        & (alpha_frac >= float(min_alpha_frac))
        & (stop_hits >= int(min_stop_hits))
    )
    return [
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        alpha_frac.alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
        gopher_pass.alias("gopher_pass"),
    ]


def distinct_ngram_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Distinct-n diversity per corpus slice (the distinct-1/distinct-2
    metric of Li et al. 2016, standard for detecting boilerplate-
    collapsed or over-deduplicated slices): for n ∈ {1, 2}, the number
    of distinct word n-grams over total n-gram occurrences. A slice
    whose distinct_frac craters is template spam; one near 1.0 at
    scale is suspiciously synthetic.

    Shape: unigrams and bigrams are built in-row, exploded once, and
    counted by ONE map-side-combinable (slice, n, gram) hash agg whose
    vocabulary-grain output feeds the (slice, n) rollup — no joins, no
    second scan.

    Output: (group_col, n, total_ngrams, distinct_ngrams,
    distinct_frac).
    """
    toks = tokens(text_col)
    bg = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.when(b.isNotNull(), F.concat_ws("_", a, b)),
        ),
        lambda x: x.isNotNull(),
    )
    uni = df.select(
        F.col(group_col), F.lit(1).alias("n"), F.explode(toks).alias("g")
    )
    big = df.select(
        F.col(group_col), F.lit(2).alias("n"), F.explode(bg).alias("g")
    )
    counts = (
        uni.unionByName(big)
        .groupBy(group_col, "n", "g")
        .agg(F.count("*").alias("c"))
    )
    return (
        counts.groupBy(group_col, "n")
        .agg(
            F.sum("c").cast("bigint").alias("total_ngrams"),
            F.count("*").cast("bigint").alias("distinct_ngrams"),
        )
        .select(
            group_col,
            F.col("n").cast("bigint").alias("n"),
            "total_ngrams",
            "distinct_ngrams",
            (
                F.col("distinct_ngrams").cast("double")
                / F.col("total_ngrams").cast("double")
            ).alias("distinct_frac"),
        )
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delta: int = 3,
    min_count: int = 3,
    threshold: float = 2.0,
) -> DataFrame:
    """Collocation / phrase detection — the word2vec phrase score
    (Mikolov et al., NeurIPS'13 "Distributed Representations of Words
    and Phrases", eq. 6): for each adjacent token bigram,
    ``score = (c_ab − δ) · N / (c_a · c_b)`` where N is the total
    token count; pairs scoring above ``threshold`` are the
    collocations a tokenization pipeline merges into single units
    ("new_york"). δ discounts rare accidents; ``min_count`` floors
    the bigram count.

    Scale shape: bigrams come from an IN-ROW zip of the token array
    with its own tail (no positional self-join — the corpus is
    scanned once); unigram and bigram counts are two map-side-
    combinable hash aggs; N rides along as a broadcast 1-row join.
    All counts exact bigint; the score is decimal(38) products with
    ONE final double division (the ``q_basket_pairs`` lift idiom), so
    engines agree bit-for-bit.

    Output: (term_a, term_b, n_ab, n_a, n_b, score), score ≥ threshold
    and n_ab ≥ min_count.
    """
    toks = df.select(tokens(text_col).alias("__t"))
    uni = toks.select(F.explode("__t").alias("term")).groupBy("term").agg(
        F.count("*").alias("n")
    )
    bi_arr = F.zip_with(
        F.slice(F.col("__t"), 1, F.greatest(F.size("__t") - 1, F.lit(0))),
        F.expr("slice(__t, 2, greatest(size(__t) - 1, 0))"),
        lambda a, b: F.struct(a.alias("term_a"), b.alias("term_b")),
    )
    bi = (
        toks.select(F.explode(bi_arr).alias("p"))
        .select("p.term_a", "p.term_b")
        .groupBy("term_a", "term_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= int(min_count))
    )
    n_tok = uni.agg(F.sum("n").alias("n_total"))
    d38 = "decimal(38,0)"
    scored = (
        bi.join(uni.withColumnsRenamed({"term": "term_a", "n": "n_a"}), "term_a")
        .join(uni.withColumnsRenamed({"term": "term_b", "n": "n_b"}), "term_b")
        .crossJoin(F.broadcast(n_tok))
        .withColumn(
            "score",
            (
                (F.col("n_ab") - F.lit(int(delta))).cast(d38)
                * F.col("n_total").cast(d38)
            ).cast("double")
            / (F.col("n_a").cast(d38) * F.col("n_b").cast(d38)).cast("double"),
        )
    )
    return scored.filter(F.col("score") >= float(threshold)).select(
        "term_a", "term_b", "n_ab", "n_a", "n_b", "score"
    )


def script_mix(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document character-class composition — the multilingual-
    pipeline QC signal (a 'en'-labeled doc that is 40% non-ASCII is
    mislabeled or mojibake; a doc that is 60% digits is a table dump):
    counts of ASCII letters, digits, whitespace, ASCII punctuation,
    and everything else (non-ASCII), each as
    ``length(text) − length(regexp_replace(text, class, ''))`` — five
    pure column expressions over ONE scan, zero shuffle, whole-stage
    codegen. Explicit ASCII ranges (not unicode property classes) so
    both regex engines agree byte-for-byte. Ratios are single double
    divisions of exact integer counts.

    Output: (doc_id, n_chars, alpha_ratio, digit_ratio, space_ratio,
    punct_ratio, other_ratio) for docs with n_chars > 0.
    """
    t = F.col(text_col)
    n = F.length(t)

    def cnt(pattern: str) -> Column:
        return (n - F.length(F.regexp_replace(t, pattern, ""))).cast("bigint")

    alpha = cnt("[A-Za-z]")
    digit = cnt("[0-9]")
    space = cnt("[ \\t\\n\\r]")
    # printable ASCII punctuation = ASCII 0x21-0x7E minus alnum
    punct = cnt("[!-/:-@\\[-`{-~]")
    other = n.cast("bigint") - alpha - digit - space - punct
    ratio = lambda c: c.cast("double") / n.cast("double")
    return df.filter(n > 0).select(
        F.col(id_col),
        n.cast("bigint").alias("n_chars"),
        ratio(alpha).alias("alpha_ratio"),
        ratio(digit).alias("digit_ratio"),
        ratio(space).alias("space_ratio"),
        ratio(punct).alias("punct_ratio"),
        ratio(other).alias("other_ratio"),
    )


def _gram_structs(tok: Column, n: int) -> Column:
    """Ordered word n-grams as structs of separate token fields (w1..wn)
    with multiplicity — the join-friendly twin of ``_gram_list`` (no
    string concat; backoff scoring needs each position separately)."""
    make = F.transform(
        F.sequence(F.lit(0), F.size(tok) - n),
        lambda i: F.struct(
            *[F.element_at(tok, i + j + 1).alias(f"w{j + 1}") for j in range(n)]
        ),
    )
    return F.when(F.size(tok) >= n, make).otherwise(F.array())


# Backoff constants computed ONCE in Python and shared verbatim with
# the SQL oracle — 0.4*0.4 is NOT the double literal 0.16, so both
# engines must multiply by the identical float64.
BACKOFF_ALPHA = 0.4
BACKOFF_ALPHA2 = BACKOFF_ALPHA * BACKOFF_ALPHA


def backoff_trigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 9,
) -> DataFrame:
    """Held-out trigram LM scoring with STUPID BACKOFF (Brants et al.
    2007 — the web-scale LM smoothing that needs only counts, no
    discount fitting, which is exactly why it's the one used at 100 TB):

        S(w3|w1w2) = c(w1w2w3)/c(w1w2)            if the trigram is in train
                   = 0.4 · c(w2w3)/c(w2)          elif the bigram is
                   = 0.16 · (c(w3)+1)/(T+V)       else (add-one floor,
                                                   so unseen words never -inf)

    Counts come from the EVEN doc_ids (train); the ODD doc_ids are
    scored (held-out — scoring the training corpus on itself never
    exercises backoff, every observed trigram has c3 ≥ 1). This is the
    quality/fluency signal the CCNet pipeline computes with KenLM; the
    per-trigram ln(S) is rounded and integer-scaled before summation
    (order-free bigint doc totals, the unigram/bigram scorer
    discipline).

    100 TB shape: n-grams are built IN-ROW from each doc's token array
    (no positional self-join); count relations are one hash agg each
    (map-side combined); the probability joins shuffle on the n-gram
    key with one-row-per-key count sides (skewed stopword n-grams are
    AQE-split); (T, V) is a 1-row broadcast.

    Output: (id, n_trigrams, nll_e9, avg_nll) for scored docs with ≥3
    tokens."""
    train = df.filter(F.col(id_col) % 2 == 0)
    score = df.filter(F.col(id_col) % 2 == 1)

    # tokenize the TRAIN side exactly once (the regex normalize is the
    # expensive scan work; deriving tri/bi/unigrams from three separate
    # text scans re-ran it 3× — measured 8.1s → ~5s at sf0.1) and build
    # every count relation from the persisted token arrays in-row
    # persisted; filled by the first count relation's partial-agg pass
    # (r11: the dedicated eager-fill job re-measured as pure overhead —
    # wall 1.94 s without vs 2.12 s with, executor CPU equal)
    train_toks = train.select(tokens(text_col).alias("tk")).persist()
    tf3 = (
        score.select(
            F.col(id_col), F.explode(_gram_structs(tokens(text_col), 3)).alias("g")
        )
        .select(id_col, "g.w1", "g.w2", "g.w3")
        .groupBy(id_col, "w1", "w2", "w3")
        .agg(F.count("*").alias("tf"))
    )
    c3 = (
        train_toks.select(F.explode(_gram_structs(F.col("tk"), 3)).alias("g"))
        .select("g.w1", "g.w2", "g.w3")
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("c3"))
    )
    cb = (
        train_toks.select(F.explode(_gram_structs(F.col("tk"), 2)).alias("g"))
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cb"))
    )
    cu = train_toks.select(F.explode("tk").alias("tok")).groupBy("tok").agg(
        F.count("*").alias("cu")
    ).persist()
    tot = cu.agg(
        F.sum("cu").cast("bigint").alias("T"),
        F.count("*").cast("bigint").alias("V"),
    )

    pre = cb.withColumnsRenamed({"cb": "cpre"})
    suf = cb.select(
        F.col("w1").alias("w2"), F.col("w2").alias("w3"), F.col("cb").alias("csuf")
    )
    u2 = cu.withColumnsRenamed({"tok": "w2", "cu": "cw2"})
    u3 = cu.withColumnsRenamed({"tok": "w3", "cu": "cw3"})
    j = (
        tf3.join(c3, ["w1", "w2", "w3"], "left")
        .join(pre, ["w1", "w2"], "left")
        .join(suf, ["w2", "w3"], "left")
        .join(u2, "w2", "left")
        .join(u3, "w3", "left")
        .join(F.broadcast(tot))
    )
    s = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3").cast("double") / F.col("cpre").cast("double"),
        )
        .when(
            F.col("csuf").isNotNull(),
            F.lit(BACKOFF_ALPHA)
            * (F.col("csuf").cast("double") / F.col("cw2").cast("double")),
        )
        .otherwise(
            F.lit(BACKOFF_ALPHA2)
            * (
                (F.coalesce(F.col("cw3"), F.lit(0)) + 1).cast("double")
                / (F.col("T") + F.col("V")).cast("double")
            )
        )
    )
    le9 = F.round(F.log(s) * F.lit(10.0 ** round_digits)).cast("bigint")
    term = j.select(F.col(id_col), "tf", le9.alias("le9"))
    return term.groupBy(id_col).agg(
        F.sum("tf").cast("bigint").alias("n_trigrams"),
        (-F.sum(F.col("le9") * F.col("tf"))).cast("bigint").alias("nll_e9"),
        F.round(
            (-F.sum(F.col("le9") * F.col("tf"))).cast("double")
            / F.sum("tf")
            / F.lit(10.0 ** round_digits),
            round_digits,
        ).alias("avg_nll"),
    )


def quality_perceptron(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 16,
    n_iters: int = 4,
    label_expr: Column | None = None,
) -> DataFrame:
    """MODEL-BASED quality filtering — the learned stage the big-corpus
    pipelines run on top of rule filters (GPT-3's LR classifier over
    hashed features, Brown et al. 2020 App. A; CCNet/RefinedWeb's
    fastText-style scorers): a linear classifier over hashing-trick
    features, trained IN THE ENGINE with the rule tier
    (``gopher_quality``) as weak labels — the standard bootstrap when
    no human labels exist — then applied to every document, yielding a
    margin (a graded quality score the rules alone cannot give) and a
    prediction that generalizes the rules through token-level features.

    Trainer: fixed-``n_iters`` full-batch gradient descent on the
    perceptron loss (Rosenblatt 1958 updates, MEAN-normalized per
    epoch: w += floor(S·Σ_mis y·x / n) with S = 256 — the raw batch
    sum swings the whole misclassified mass each epoch and oscillates
    between the all-positive and all-negative states; measured 0.45 vs
    0.96 agreement) on y ∈ {+1, −1} from ``label_expr`` — a boolean
    expression over ``gopher_quality``'s metric columns. Features: the
    ``dim`` signed-hash token counts (``hashing_trick_embed``), the
    MEAN-CENTERED total token count at dim ``d`` (length is what every
    count-window rule needs and the ~0-mean hashed sums cannot see;
    centering keeps this feature ~0-mean too, a second oscillation
    guard), and a bias at dim ``d``+1. The default label rule is the
    word-count / word-length / symbol window (the Gopher sub-rules
    with signal on ANY corpus); the full ``gopher_pass`` conjunction
    is the production choice on natural text but collapses to one
    class on stopword-free synthetic fixtures, which would make
    training vacuous. EVERYTHING is exact integer arithmetic —
    margins are int sums of int products, the misclassified set is
    y·m ≤ 0, and the update's floor strips the positive remainder
    (pmod) so truncating DIV equals floor on both engines (the Lloyd
    DIV lesson) — the whole trajectory is bit-deterministic across
    engines and partitionings, and the DuckDB oracle replays it
    unrolled (the Lloyd / integer-PageRank determinism pattern; a
    logistic trainer would need exp(), which is exactly what those
    precedents avoid).

    Physical shape (r10 optimization round, guide §2.4 — remove
    shuffles outright): ONE persisted WIDE training relation
    (doc, x array<bigint>[dim+2], y) built in a single scan projection
    that fuses the feature fold, the token count and the Gopher label
    metrics (the former long form joined three scans and shuffled
    N·(dim+2) thin rows per epoch). Margins are an IN-ROW dot product
    against the dim+2 LITERAL weights (no broadcast join, no groupBy —
    the weights live in the plan), so each epoch is ONE grouping-less
    hash aggregation: dim+2 conditional sums over the misclassified
    rows — map-side combined, the exchange carries one row per
    partition. The weight update floor(g·S/n) runs on the driver in
    exact Python integers (Python ``//`` IS floor — identical to the
    pmod-adjusted DIV trajectory, bit for bit). Driver traffic is 2
    scalars + n_iters·(dim+2) gradient sums (~KB). At 100 TB each
    epoch is Θ(N·dim) map-local work with ~KB shuffles, and the final
    margin pass is map-only.

    Output: (doc_id, margin bigint, pred ∈ {1,−1}, weak_label, agree)
    for every token-ful document — ``margin`` is the quality score;
    disagreements (agree = 0) are exactly the docs where the learned
    generalization overrides the rules (the review queue a curation
    team samples).
    """
    from pyspark import StorageLevel

    d = int(dim)
    nfeat = d + 2
    # ONE scan projection computing everything per document: the signed
    # (bucket, sign) md5 structs the feature fold consumes, the token
    # count, and the Gopher label metrics. The token-less filter is the
    # cheap normalize != '' pre-filter (⟺ ≥1 token ⟺ __cnt > 0 — the
    # HOF-pushdown rule hashing_trick_embed established).
    hs = F.transform(F.array_distinct(tokens(text_col)), F.md5)
    bucket = lambda x: F.conv(F.substring(x, 1, 4), 16, 10).cast("bigint") % d
    sign = lambda x: F.when(
        F.substring(x, 5, 1).between("8", "f"), F.lit(1)
    ).otherwise(F.lit(-1))
    bs = F.transform(
        hs, lambda x: F.struct(bucket(x).alias("b"), sign(x).alias("s"))
    )
    pre = df.filter(normalize(text_col) != "").select(
        F.col(id_col),
        bs.alias("__bs"),
        F.size(tokens(text_col)).cast("bigint").alias("__cnt"),
        *_gopher_metric_exprs(text_col),
    )
    emb = F.aggregate(
        F.col("__bs"),
        F.array_repeat(F.lit(0).cast("bigint"), d),
        lambda acc, t: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda a, j: a + F.when(t["b"] == j, t["s"]).otherwise(0),
        ),
    )
    if label_expr is None:
        label_expr = (
            F.col("n_words").between(50, 100_000)
            & F.col("mean_word_len").between(3.0, 10.0)
            & (F.col("symbol_ratio") <= 0.1)
        )
    # two dense features beyond the hashed counts: the CENTERED total
    # token count (dim d — signed hash sums are ~0-mean, so LENGTH,
    # which every count-window quality rule needs, is otherwise
    # invisible to a linear model; centering by the integer-mean count
    # keeps the feature ~0-mean too, without which the full-batch
    # update oscillates between the all-positive and all-negative
    # states — measured 0.45 vs 0.96 agreement) and the bias (dim d+1).
    # The center (cbar) is a global scalar, so the cached frame carries
    # the RAW count; x materializes lazily on top of the cache.
    # coalesce to the default parallelism (no shuffle; a no-op when the
    # input already has <= that many partitions): a unioned training
    # corpus — the planted-signal eval stacks three spread frames —
    # otherwise carries 3x partitions into the cache, and every epoch's
    # grouping-less agg then launches 3x near-empty tasks (r10
    # optimization round; guide §2.2, fewer larger tasks)
    n_part = df.sparkSession.sparkContext.defaultParallelism
    staged = pre.select(
        F.col(id_col),
        emb.alias("__emb"),
        F.col("__cnt"),
        F.when(label_expr, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("y"),
    ).coalesce(n_part).persist(StorageLevel.MEMORY_AND_DISK)

    stats = staged.agg(
        F.sum("__cnt").alias("s"), F.count("*").alias("n")
    ).first()
    if not stats["n"]:  # empty / all-token-less corpus: nothing to train
        staged.unpersist()
        return df.sparkSession.createDataFrame(
            [],
            f"{id_col} bigint, margin bigint, pred bigint, "
            "weak_label bigint, agree bigint",
        )
    n_train, cbar = int(stats["n"]), int(stats["s"]) // int(stats["n"])
    txy = staged.select(
        F.col(id_col),
        F.concat(
            F.col("__emb"),
            F.array(
                (F.col("__cnt") - F.lit(cbar)).cast("bigint"),
                F.lit(1).cast("bigint"),
            ),
        ).alias("x"),
        F.col("y"),
    )

    # per-dim gradient sums as ONE grouping-less agg: dim+2 conditional
    # sums (codegen'd element_at — no explode, no join, no window)
    gsums = [
        F.sum(F.col("y") * F.element_at("x", j + 1)).alias(f"g{j}")
        for j in range(nfeat)
    ]

    def margin_expr(w: list[int]):
        # in-row dot product against the LITERAL weights — bigint
        # products and sums, associative and exact, so the value equals
        # the historical hash-agg-over-thin-rows form bit for bit
        m = F.lit(0).cast("bigint")
        for j, wv in enumerate(w):
            m = m + F.element_at("x", j + 1) * F.lit(int(wv)).cast("bigint")
        return m

    # mean update, integer-exact: w += floor(g·S / n_train). Python //
    # IS floor division on exact ints — identical to the engine-side
    # pmod-adjusted truncating DIV the long form used (and to the
    # oracle's replay). The raw perceptron sum-update overshoots at
    # full batch, hence the S/n_train scaling.
    S = 256

    # epoch 1 from w = 0: every margin is 0, y·m ≤ 0 everywhere, so the
    # first gradient is the full label-weighted feature sum
    g = txy.agg(*gsums).first()
    w = [(int(g[j]) * S) // n_train for j in range(nfeat)]
    for _ in range(int(n_iters) - 1):
        mis = txy.filter(F.col("y") * margin_expr(w) <= 0)
        g = mis.agg(*gsums).first()
        # an empty misclassified set yields NULL sums → gradient 0
        w = [
            w[j] + ((int(g[j]) * S) // n_train if g[j] is not None else 0)
            for j in range(nfeat)
        ]

    margin = margin_expr(w)
    return txy.select(
        F.col(id_col),
        margin.cast("bigint").alias("margin"),
        F.when(margin > 0, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("pred"),
        F.col("y").cast("bigint").alias("weak_label"),
        F.when((margin > 0) == (F.col("y") > 0), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("agree"),
    )
