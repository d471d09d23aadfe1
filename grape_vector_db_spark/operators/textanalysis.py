"""Text analysis operators (LLM-data-pipeline additions).

Per-document scalar features computed as pure JVM expressions — at 100 TB
these are a single narrow map over the corpus (no shuffle at all), which is
exactly what a quality-filter pass in a training-data pipeline must be.

- language-ID: stopword-hit-ratio heuristic against small per-language
  function-word lists (n-gram-free so it stays SQL-expressible; a real
  deployment would swap in a fastText-style model via mapInPandas — the
  plumbing is the same single narrow pass).
- quality score: length/stopword/alpha/repetition heuristics (mirrors the
  reference's content_analysis config knobs, src/config.rs:38-45, 291-321).
- token counting: whitespace tokens and a BPE-ish regex proxy
  (letter-runs, digits, punctuation as single tokens).
- fingerprinting: md5 of whitespace-normalized text plus a winnowing-style
  min-hash over character 5-grams (robust to whitespace-only edits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h32
from ..functions.text import STOPWORDS, tokens, ws_tokens

# Tiny function-word lists per language; enough signal for a heuristic tag.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "des", "une", "dans", "pour"],
    "es": ["el", "la", "los", "las", "es", "no", "con", "una", "para", "por"],
    "zh": ["的", "了", "是", "在", "有", "和", "不", "这", "那", "就"],
}


def _ws_tokens(text_col):
    """Canonical whitespace tokens — see functions.text.ws_tokens
    (Unicode class, empty tokens filtered)."""
    return ws_tokens(text_col)



def _marker_score_cols(tok_col: str = "_t", prefix: str = "s_"):
    """One 6-dp marker-hit-ratio Column per language over a token-array
    column — the single definition language_scores, language_id, and
    mixed_language all build on (they used to hand-copy this block; a
    fix applied to one silently missed the others)."""
    return [
        F.round(
            F.size(
                F.filter(
                    F.col(tok_col),
                    lambda w: F.array_contains(
                        F.array(*[F.lit(m) for m in LANG_MARKERS[lang]]), w
                    ),
                )
            ).cast("double")
            / F.greatest(F.size(tok_col), F.lit(1)).cast("double"),
            6,
        ).alias(f"{prefix}{lang}")
        for lang in sorted(LANG_MARKERS)
    ]


def language_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: tuple = (),
) -> DataFrame:
    """(doc_id[, keep...], s_<lang>...) — the full marker-hit-ratio score
    vector behind :func:`language_id`, one column per language in
    :data:`LANG_MARKERS` (6-dp rounded). Exposed so downstream
    consumers (classifier evaluation, confidence thresholds, mixed-
    language detection) can read the raw per-class scores instead of
    just the argmax. Same single narrow zero-shuffle map. ``keep``
    names input columns carried through unchanged — a consumer needing
    input metadata next to the scores (e.g. a ground-truth label) rides
    the same scan instead of re-joining the corpus on doc_id."""
    toks = _ws_tokens(text_col)
    base = df.select(
        F.col(id_col).alias("doc_id"), *keep, toks.alias("_t")
    )
    return base.select("doc_id", *keep, *_marker_score_cols())


def _argmax_lang_case(best_col: str):
    """First (alphabetical) language whose score column equals
    ``best_col`` — the shared argmax CASE chain behind language_id and
    mixed_language (a tie-break/floor change edited into one copy used
    to silently diverge doc-level and line-level labels for the same
    text). Callers own the zero/threshold floor that maps no-evidence
    rows to 'unk'."""
    lang_case = None
    for lang in sorted(LANG_MARKERS):
        cond = (F.col(f"_s_{lang}") == F.col(best_col), F.lit(lang))
        lang_case = (
            F.when(*cond) if lang_case is None else lang_case.when(*cond)
        )
    return lang_case


def language_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, pred_lang, lang_score) — argmax over marker-hit ratios.

    lang_score = fraction of whitespace tokens that are markers of the
    predicted language. Ties break alphabetically (deterministic).
    ZERO evidence (no marker of ANY language hit — symbol-only text, or
    a language outside LANG_MARKERS entirely) predicts ``'unk'``: every
    score ties the 0.0 max, so the alphabetical tie-break used to label
    every such doc ``'de'`` systematically — a downstream per-language
    sampler/filter keyed on pred_lang then silently treated all
    unlisted-language documents as German (mixed_language's min_ratio
    gate is the line-level analogue of this floor)."""
    toks = _ws_tokens(text_col)
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("_t"))
    scores = _marker_score_cols(prefix="_s_")
    scored = base.select("doc_id", *scores).withColumn(
        "lang_score", F.greatest(*[F.col(f"_s_{lang}") for lang in sorted(LANG_MARKERS)])
    )
    # first (alphabetical) language achieving the max score — deterministic.
    lang_case = _argmax_lang_case("lang_score")
    pred = F.when(F.col("lang_score") > 0, lang_case).otherwise(F.lit("unk"))
    return scored.select("doc_id", pred.alias("pred_lang"), "lang_score")


def quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_ws_tokens, mean_token_len, stopword_ratio, alpha_ratio,
    dup_token_ratio, quality) — composable heuristics + a [0,1] blend.

    quality = 0.25*len_ok + 0.25*(1-dup_ratio) + 0.25*stop_ok + 0.25*alpha,
    where len_ok = 1 if 5 <= tokens <= 5000, stop_ok = 1 if stopword ratio
    in [0.05, 0.6] (prose-like), alpha = alphabetic-char fraction.
    """
    toks = _ws_tokens(text_col)
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_txt"),
        toks.alias("_t"),
    ).select(
        "doc_id",
        "_txt",
        F.size("_t").alias("n_ws_tokens"),
        F.size(F.array_distinct("_t")).alias("_n_uniq"),
        F.size(F.filter(F.col("_t"), lambda w: F.array_contains(stop, w))).alias(
            "_n_stop"
        ),
        F.aggregate(
            F.transform(F.col("_t"), lambda w: F.length(w)),
            F.lit(0),
            lambda a, x: a + x,
        ).alias("_tok_chars"),
    )
    n = F.greatest(F.col("n_ws_tokens"), F.lit(1)).cast("double")
    # exact mean over the token array — the old (len - (n-1))/n shortcut
    # assumed exactly one separator char between tokens, overcounting on
    # multi-space / tab / indented text
    mean_tok = F.col("_tok_chars").cast("double") / n
    stop_ratio = F.col("_n_stop").cast("double") / n
    alpha_ratio = (
        F.length(F.regexp_replace(F.col("_txt"), r"[^\p{L}]", "")).cast("double")
        / F.greatest(F.length("_txt"), F.lit(1)).cast("double")
    )
    dup_ratio = F.lit(1.0) - F.col("_n_uniq").cast("double") / n
    len_ok = F.when(
        (F.col("n_ws_tokens") >= 5) & (F.col("n_ws_tokens") <= 5000), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    stop_ok = F.when(
        (stop_ratio >= 0.05) & (stop_ratio <= 0.6), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    quality = (
        F.lit(0.25) * len_ok
        + F.lit(0.25) * (F.lit(1.0) - dup_ratio)
        + F.lit(0.25) * stop_ok
        + F.lit(0.25) * alpha_ratio
    )
    return base.select(
        "doc_id",
        "n_ws_tokens",
        F.round(mean_tok, 6).alias("mean_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(dup_ratio, 6).alias("dup_token_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def token_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_tokens, entropy) — Shannon entropy (bits) of the doc's
    kept-token distribution: low entropy flags repetitive/templated text
    (keyword stuffing, boilerplate) that length/stopword heuristics miss.

    Computed as ``log2(n) - sum(c*log2(c))/n`` over per-term counts c —
    one explode + one map-side-combined groupBy; the formula is written
    identically in the DuckDB oracle so the floats round the same way.
    Docs with NO kept tokens (all stopwords / short tokens — exactly the
    degenerate docs a quality gate most needs to see scored) report
    (0, 0.0) instead of silently vanishing.
    """
    toked = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
    # explode_outer + IS NOT NULL: a size filter or an inner explode
    # (InferFiltersFromGenerate) copies the tokenizer into a pushed-down
    # filter (functions.text.doc_terms)
    terms = toked.select(
        "doc_id", F.explode_outer("_t").alias("term")
    ).where(F.col("term").isNotNull())
    counts = terms.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * F.log2("c")).alias("_clogc"),
    )
    n = F.col("n_tokens").cast("double")
    return (
        toked.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(
                F.round(F.log2(n) - F.col("_clogc") / n, 6), F.lit(0.0)
            ).alias("entropy"),
        )
    )


def hashed_features(
    df: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "reference",
) -> DataFrame:
    """Feature-hashing vectorizer (the hashing trick, Weinberger et al.
    2009): (doc_id, features array<long>) where features[j] counts the
    doc's token occurrences hashing to slot j = h32(token) % dim — a
    fixed-width bag-of-words with NO vocabulary pass, the cheap text
    featurizer for dedup/clustering at corpus scale.

    Shape: tokenize -> explode -> one groupBy(doc, slot) shuffle (map-side
    combined) -> dense array fill. Counts are integers — exact in any
    engine; h32 is the repo-wide md5 hash, so the oracle reproduces slots
    bit-for-bit.

    ``tokenizer``: "reference" (default) runs the stopword-stripping
    reference tokenizer — right for topical similarity features;
    "whitespace" keeps raw lowercased whitespace tokens INCLUDING
    stopwords — required when the downstream model needs function words
    (language ID, style/quality classifiers: stripping 'the'/'and'
    removes exactly the signal a lang classifier learns from).
    """
    if tokenizer == "whitespace":
        tok = _ws_tokens(text_col)
    elif tokenizer == "reference":
        tok = tokens(text_col)
    else:
        raise ValueError(
            f"tokenizer must be 'reference' or 'whitespace', got {tokenizer!r}"
        )
    toked = df.select(F.col(id_col).alias("doc_id"), tok.alias("_t"))
    # explode_OUTER keeps one row per input doc, always: a token-less
    # doc (all stopwords / empty text) rides along as a NULL term ->
    # NULL slot, which the fill's `s.slot = j` filter never matches, so
    # it lands on the zero vector (token_entropy's row-per-doc rule).
    # The previous shape re-attached those docs with a corpus-x-corpus
    # left join after the aggregates — 2 extra Exchanges for rows the
    # scan already had (r11, guide §2.4).
    slots = toked.select(
        "doc_id", F.explode_outer("_t").alias("term")
    ).select("doc_id", (h32(F.col("term")) % dim).alias("slot"))
    counts = slots.groupBy("doc_id", "slot").agg(F.count("*").alias("cnt"))
    packed = counts.groupBy("doc_id").agg(
        F.collect_list(F.struct("slot", "cnt")).alias("_sc")
    )
    fill = F.expr(
        f"""
        transform(sequence(0, {dim - 1}), j ->
          coalesce(aggregate(filter(_sc, s -> s.slot = j),
                             cast(0 as bigint), (a, s) -> a + s.cnt),
                   cast(0 as bigint)))
        """
    )
    return packed.select("doc_id", fill.alias("features"))


def token_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens, n_kept_tokens).

    n_bpe_tokens: BPE-ish proxy = count of letter-runs / digit-runs /
    single punctuation marks (regex, comparable across engines);
    n_kept_tokens: tokens surviving the reference tokenizer.
    """
    bpe_pat = r"[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]"
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(_ws_tokens(text_col)).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(bpe_pat), 0)).alias(
            "n_bpe_tokens"
        ),
        F.size(tokens(text_col)).alias("n_kept_tokens"),
    )


def fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """(doc_id, exact_fp, min_gram_hash) content fingerprints.

    exact_fp = md5 of whitespace-normalized lowercased text;
    min_gram_hash = min 32-bit hash over character k-grams of the
    normalized text (winnowing-style: stable under small local edits,
    usable as a cheap near-dup bucket key).
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(norm).alias("exact_fp"),
        F.array_min(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(norm) - (k - 1), F.lit(1))),
                lambda i: h32(norm.substr(i, F.lit(k))),
            )
        ).alias("min_gram_hash"),
    )


def unigram_lm(
    df: DataFrame,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Add-alpha-smoothed unigram language model trained on the corpus:
    ``(term, logp)`` with ``P(w) = (c(w) + alpha) / (N + alpha * V)``.

    The training pass is one map-side-combined count shuffle (the same
    shape as doc_terms) plus a single-row (N, V) aggregate broadcast —
    at 100 TB this is an ingest-side table, persisted like the inverted
    index. Tokens are lowercased whitespace words, matching the other
    textanalysis signals.
    """
    toks = df.select(F.explode(_ws_tokens(text_col)).alias("term")).where(
        F.length("term") > 0
    )
    counts = toks.groupBy("term").agg(F.count("*").alias("c"))
    totals = counts.agg(
        F.sum("c").alias("n"), F.count("*").alias("v")
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "term",
        F.log(
            (F.col("c") + F.lit(alpha))
            / (F.col("n") + F.lit(alpha) * F.col("v"))
        ).alias("logp"),
    )


def lm_cross_entropy(
    df: DataFrame,
    lm: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style per-document LM score: ``(doc_id, n_tokens,
    cross_entropy, ppl)`` where cross_entropy = -mean log P(w) under the
    unigram model and ppl = exp(cross_entropy). High-perplexity documents
    are the classic low-quality tail a training pipeline drops (CCNet,
    Wenzek et al. 2020 — theirs uses a 5-gram KenLM; the unigram shape
    keeps the pipeline fully relational and the oracle exact).

    Every in-vocabulary token hits the broadcast-or-shuffled ``lm`` join;
    out-of-vocabulary tokens (scoring a NEW corpus under a trained LM)
    get the alpha-smoothed unseen mass via the (N, V) single-row
    aggregate of the LM itself. One explode + join + groupBy(doc).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_ws_tokens(text_col)).alias("term"),
    ).where(F.length("term") > 0)
    # OOV fallback when scoring a corpus the LM was not trained on: floor
    # unseen tokens at the rarest in-vocabulary probability (a singleton
    # count-1 term's logp is within log((1+alpha)/alpha) of the exact
    # alpha-smoothed unseen mass). Scoring the training corpus never
    # takes this branch.
    floor = lm.agg(F.min("logp").alias("floor_logp"))
    scored = (
        toks.join(lm, "term", "left")
        .crossJoin(F.broadcast(floor))
        .select(
            "doc_id",
            F.coalesce(F.col("logp"), F.col("floor_logp")).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(-F.avg("lp"), 6).alias("cross_entropy"),
        F.round(F.exp(-F.avg("lp")), 6).alias("ppl"),
    )


def bigram_lm(
    df: DataFrame,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Add-alpha-smoothed bigram model over the corpus: ``(prev, term,
    logp)`` with ``P(w2|w1) = (c(w1,w2) + alpha) / (c(w1,·) + alpha*V)``
    — one step toward CCNet's real 5-gram KenLM from the unigram shape,
    still fully relational (and so oracle-exact).

    Shape: posexplode -> per-doc lag window (adjacent pairs) -> one
    map-side-combined count shuffle; context totals and the vocabulary
    size V join back (the (V) single-row aggregate broadcasts).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_ws_tokens(text_col)).alias("pos", "term"),
    ).where(F.length("term") > 0)
    w = Window.partitionBy("doc_id").orderBy(F.col("pos").asc())
    pairs = toks.withColumn("prev", F.lag("term").over(w)).where(
        F.col("prev").isNotNull()
    )
    counts = pairs.groupBy("prev", "term").agg(F.count("*").alias("c"))
    ctx = counts.groupBy("prev").agg(F.sum("c").alias("ctx_c"))
    v = toks.agg(F.countDistinct("term").alias("v"))
    return (
        counts.join(ctx, "prev")
        .crossJoin(F.broadcast(v))
        .select(
            "prev",
            "term",
            F.log(
                (F.col("c") + F.lit(alpha))
                / (F.col("ctx_c") + F.lit(alpha) * F.col("v"))
            ).alias("logp"),
        )
    )


def lm_cross_entropy_bigram(
    df: DataFrame,
    bi: DataFrame,
    uni: DataFrame,
    backoff: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document bigram cross-entropy with STUPID BACKOFF (Brants et
    al. 2007): a transition scores the bigram logp when the bigram was
    seen, else ``ln(backoff) + unigram_logp(term)`` (OOV terms floor at
    the rarest unigram, as in :func:`lm_cross_entropy`). Returns
    ``(doc_id, n_transitions, cross_entropy)`` over documents with at
    least one transition (single-token docs have no bigram signal and
    drop out — same on the oracle side by construction).
    """
    import math

    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_ws_tokens(text_col)).alias("pos", "term"),
    ).where(F.length("term") > 0)
    w = Window.partitionBy("doc_id").orderBy(F.col("pos").asc())
    trans = toks.withColumn("prev", F.lag("term").over(w)).where(
        F.col("prev").isNotNull()
    )
    floor = uni.agg(F.min("logp").alias("floor_logp"))
    scored = (
        trans.join(
            bi.select("prev", "term", F.col("logp").alias("bi_lp")),
            ["prev", "term"],
            "left",
        )
        .join(
            uni.select("term", F.col("logp").alias("uni_lp")), "term", "left"
        )
        .crossJoin(F.broadcast(floor))
        .select(
            "doc_id",
            F.coalesce(
                F.col("bi_lp"),
                F.lit(math.log(backoff))
                + F.coalesce(F.col("uni_lp"), F.col("floor_logp")),
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_transitions"),
        F.round(-F.avg("lp"), 6).alias("cross_entropy"),
    )


def ccnet_buckets(
    df: DataFrame,
    lm: DataFrame,
    n_buckets: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2020 §4.3):
    rank documents by LM score and cut into ``n_buckets`` equal-count
    tiers — ``(doc_id, n_tokens, cross_entropy, tier)`` with tier 0 the
    LOWEST cross-entropy (head = best quality) and ties broken by
    doc_id. CCNet trains on head+middle and drops tail.

    The rank uses :func:`rank.global_row_number` — an EXACT global order
    with no single-partition window (sampled range buckets + offsets),
    so the split scales to corpus size; cross_entropy is ranked at its
    6-dp rounded value (the oracle-parity granularity). The rank
    primitive checkpoints its input once, so the LM join runs exactly
    once and nothing here stays persisted after the call (repeated
    calls used to leak a cached score table per invocation).
    """
    from .rank import global_row_number

    scored = lm_cross_entropy(df, lm, id_col, text_col).select(
        "doc_id", "n_tokens", "cross_entropy"
    )
    ranked = global_row_number(
        scored, "cross_entropy", ["doc_id"], out_col="_rn", total_col="_n"
    )
    return ranked.select(
        "doc_id",
        "n_tokens",
        "cross_entropy",
        F.expr(f"cast(((_rn - 1) * {int(n_buckets)}) div _n as int)").alias(
            "tier"
        ),
    )


def bpe_pair_counts(
    df, text_col: str = "text", top_k: int = 50, end_token: str = "</w>"
) -> "DataFrame":
    """The inner loop of BPE tokenizer training (Sennrich et al., 2016,
    arXiv:1508.07909) as a distributed aggregation: frequency of every
    adjacent symbol pair over the initial character-level vocabulary,
    weighted by word frequency, with words terminated by ``end_token``.
    The max-count pair is the next merge a BPE trainer would apply;
    emitting the top-``top_k`` (count desc, pair asc — a total order, so
    the LIMIT cut is deterministic) gives the trainer its whole candidate
    frontier in one pass.

    Scale: the corpus collapses to the DISTINCT-WORD table first (Zipf
    makes that orders of magnitude smaller than the token stream), then
    character pairs explode off words, not documents. Two shuffles, both
    map-side combined; top-k is a TakeOrdered, never a full sort.
    """
    words = (
        df.select(
            F.explode(
                _ws_tokens(text_col)
            ).alias("w")
        )
        .where(F.length("w") > 0)
    )
    wc = words.groupBy("w").agg(F.count("*").alias("c"))
    syms = wc.withColumn(
        "syms",
        F.concat(
            F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
            F.array(F.lit(end_token)),
        ),
    )
    pairs = syms.select(
        "c",
        F.explode(
            F.expr(
                "transform(sequence(1, size(syms) - 1),"
                " i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(top_k)
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training / application (Sennrich et al. 2016)

BPE_SEP = "\x1f"  # unit separator: symbol delimiter in the string encoding
BPE_END = "</w>"


def _bpe_word_state(df, text_col: str):
    """Distinct-word table with the encoded symbol string: (w, c, s).

    The encoding ``SS c1 SS c2 ... SS </w> SS`` (SS = double separator)
    makes applying merge (a, b) ONE engine-portable left-to-right
    ``replace(S, ␟a␟␟b␟, ␟ab␟)`` — exactly BPE's leftmost-first
    non-overlapping semantics, with the flanking single separators
    preserving symbol boundaries (and the 4-separator run between words
    making cross-word merges unmatchable)."""
    # sanitize: a word containing the U+001F separator (C0 control chars
    # DO occur in web crawls) or the literal end token would corrupt the
    # symbol encoding — merges could synthesize symbols containing the
    # separator or equal to BPE_END, silently voiding the batched-merge
    # exactness guard. Strip both (the same chars normalize_text drops).
    clean = F.replace(
        F.translate(F.col("w"), BPE_SEP, ""), F.lit(BPE_END), F.lit("")
    )
    words = (
        df.select(F.explode(_ws_tokens(text_col)).alias("w"))
        .select(clean.alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    ss = BPE_SEP * 2
    enc = F.concat(
        F.lit(ss),
        F.array_join(
            F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
            ss,
        ),
        F.lit(ss + BPE_END + ss),
    )
    return words.select("w", "c", enc.alias("s"))


def bpe_merge_replace(s_col, a: str, b: str):
    """The merge-application expression: replace(␟a␟␟b␟ -> ␟ab␟)."""
    pat = BPE_SEP + a + BPE_SEP * 2 + b + BPE_SEP
    rep = BPE_SEP + a + b + BPE_SEP
    return F.replace(s_col, F.lit(pat), F.lit(rep))


#: Pair-count scans (= Spark jobs over the word state) run by the most
#: recent bpe_train call — the observable the batched-merge tests pin
#: (wall-clock is too noisy to assert; scan count is the cost driver).
_last_bpe_scan_count = 0


def _select_merge_batch(
    rows: list[tuple[str, str, int]],
    m: int,
    truncated: bool,
    prior_symbols: set[str],
    greedy: bool,
) -> list[tuple[str, str, int]]:
    """Pick up to ``m`` merges from ONE pair scan. ``rows`` is the top-K
    pair list sorted by (count desc, a asc, b asc); ``truncated`` means
    pairs below ``rows[-1]`` exist but were not collected;
    ``prior_symbols`` is every multi-char symbol string already merged
    (this iteration's earlier picks included).

    ``greedy=False`` (exact): the returned batch applied sequentially is
    PROVABLY identical to ``m`` single-pair argmax steps —

    1. take the maximal sorted PREFIX of pairwise symbol-disjoint pairs
       (stop at the first conflict, never skip): disjoint old pairs keep
       their counts, so everything ranked above a chosen pair is itself
       chosen and everything below stays below;
    2. stop after a pick whose merged string already exists as a symbol
       (``prior_symbols``): only then can a live pair's count INCREASE
       mid-batch (merging (e,r) re-creates (x, er) adjacencies), which
       would invalidate bound 4;
    3. stop after a SELF-pair pick (a, a): its merge creates pairs
       (aa, aa) / (aa, a) whose only old-pair proxy is (a, a) ITSELF —
       a chosen pair, outside bound 4's non-chosen set — so nothing
       scanned bounds them (real counterexample: 'aaaaaa' + 'bcbc',
       where sequential training picks (aa, aa) second via the
       lexicographic tie but a guard-less batch picks (b, c));
    4. tie guard: drop trailing picks not STRICTLY above every scanned
       non-chosen pair sharing a symbol with the batch and — when
       truncated — the K-th count: a merge of (a, b), a != b, can
       create new pairs (x, ab) / (ab, ab) with count up to the old
       (x, a) / (b, a) count — always a NON-chosen conflicting pair
       (chosen pairs are disjoint), so it is in the scanned remainder
       or under the truncation bound — and at equal counts the new pair
       could win the lexicographic tie-break in true sequential order.
       Worst case the batch degrades to 1 pick = plain argmax.

    ``greedy=True``: skip conflicting pairs and fill ``m`` disjoint picks
    — the standard batched-BPE approximation (deterministic, but counts
    of later picks ignore earlier merges in the same scan)."""
    chosen: list[tuple[str, str, int]] = []
    d: set[str] = set()
    if greedy:
        for a, b, n in rows:
            if len(chosen) >= m:
                break
            if a in d or b in d:
                continue
            chosen.append((a, b, n))
            d.update((a, b))
        return chosen
    seen_merged = set(prior_symbols)
    for a, b, n in rows:
        if len(chosen) >= m or a in d or b in d:
            break
        chosen.append((a, b, n))
        d.update((a, b))
        if a + b in seen_merged:
            break  # rule 2: this pick may inflate live pair counts
        if a == b:
            break  # rule 3: self-merge spawns pairs only bounded by itself
        seen_merged.add(a + b)
    tail_min = rows[-1][2] if truncated else None
    while len(chosen) > 1:
        dc = {s for ab in chosen for s in ab[:2]}
        bound = max(
            (n for a, b, n in rows[len(chosen):] if a in dc or b in dc),
            default=-1,
        )
        if tail_min is not None:
            bound = max(bound, tail_min)
        if chosen[-1][2] > bound:
            break
        chosen.pop()
    return chosen


def bpe_train(
    df,
    n_merges: int = 8,
    text_col: str = "text",
    batch_merges: int = 8,
    greedy: bool = False,
):
    """Train ``n_merges`` BPE merges over the corpus: count adjacent
    symbol pairs (weighted by word frequency) and merge the most
    frequent pair, ties to the lexicographically smallest — fully
    deterministic. Returns [(rank, a, b, count)] driver-side (the merge
    table is vocabulary-sized metadata, like k-means centroids).

    Each scan selects up to ``batch_merges`` merges via
    :func:`_select_merge_batch` instead of one, so a long training run
    costs ~n_merges/batch jobs, not n_merges (the one-job-per-merge loop
    was flagged as the 32k-merge blocker). The default exact mode is
    bit-identical to single-step training — the batch is the provable
    prefix of the sequential argmax sequence; ``greedy=True`` trades
    that guarantee for full batches (the standard distributed-BPE
    approximation — use for big vocabularies where scan count, not
    exactness of pick order, matters). ``batch_merges=1`` reproduces the
    old loop exactly in either mode.

    Scale: the state is the DISTINCT-WORD table (Zipf-small); each
    iteration is one map-side-combined groupBy over its exploded symbol
    pairs plus a chain of narrow replaces — the same driver-iterative
    shape as k-means (ref: the reference trains nothing; this is a
    pipeline addition). The state is cached per iteration so iteration m
    does not replay m replaces."""
    global _last_bpe_scan_count
    state = _bpe_word_state(df, text_col).persist()
    ss = BPE_SEP * 2
    merges: list[tuple[int, str, str, int]] = []
    _last_bpe_scan_count = 0
    try:
        while len(merges) < n_merges:
            _last_bpe_scan_count += 1
            want = min(max(1, batch_merges), n_merges - len(merges))
            k = max(64, 8 * want)
            syms = F.filter(F.split("s", ss), lambda x: F.length(x) > 0)
            with_syms = state.select("c", syms.alias("sy"))
            pairs = with_syms.select(
                "c",
                F.explode(
                    F.when(
                        F.size("sy") >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size("sy") - 1),
                            lambda i: F.struct(
                                F.element_at("sy", i).alias("a"),
                                F.element_at("sy", i + 1).alias("b"),
                            ),
                        ),
                    ).otherwise(F.expr("array()"))
                ).alias("p"),
            )
            top = [
                (r["a"], r["b"], int(r["n"]))
                for r in pairs.groupBy("p.a", "p.b")
                .agg(F.sum("c").alias("n"))
                .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
                .limit(k)
                .collect()
            ]
            if not top:
                break
            batch = _select_merge_batch(
                top,
                want,
                truncated=len(top) == k,
                prior_symbols={a + b for _, a, b, _ in merges},
                greedy=greedy,
            )
            s_col = F.col("s")
            for a, b, n in batch:
                merges.append((len(merges), a, b, n))
                s_col = bpe_merge_replace(s_col, a, b)
            nxt = state.withColumn("s", s_col).persist()
            nxt.count()
            state.unpersist()
            state = nxt
    finally:
        state.unpersist()
    return merges


def bpe_segment_counts(df, merges, id_col: str = "doc_id", text_col: str = "text"):
    """Apply a trained merge list to every document and report
    (doc_id, n_words, n_subwords): the token count a BPE-tokenized LLM
    would see. Merges apply in rank order as chained narrow replaces —
    zero shuffles, the whole segmentation is a per-row expression.
    Subword count falls out of the encoding: each word contributes
    (symbols + 1) double-separators and each merge removes exactly one,
    so n_subwords = #SS - n_words."""
    raw = _ws_tokens(text_col)
    # same sanitize as _bpe_word_state (separator / literal end token)
    toks = F.filter(
        F.transform(
            raw,
            lambda w: F.replace(
                F.translate(w, BPE_SEP, ""), F.lit(BPE_END), F.lit("")
            ),
        ),
        lambda w: F.length(w) > 0,
    )
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    s_col, n_words = (
        F.concat_ws(
            "",
            F.transform(
                F.filter(F.col("toks"), lambda w: F.length(w) > 0),
                lambda w: F.concat(
                    F.lit(BPE_SEP * 2),
                    F.array_join(
                        F.transform(
                            F.sequence(F.lit(1), F.length(w)),
                            lambda i: w.substr(i, F.lit(1)),
                        ),
                        BPE_SEP * 2,
                    ),
                    F.lit(BPE_SEP * 2 + BPE_END + BPE_SEP * 2),
                ),
            ),
        ),
        F.size(F.filter(F.col("toks"), lambda w: F.length(w) > 0)),
    )
    # fold the whole merge chain into ONE column expression before a
    # single projection — one withColumn per merge builds an
    # O(n_merges)-deep plan that blows Catalyst analysis time at the
    # 32k-merge vocabularies this module targets (bpe_train already
    # folds the same way)
    applied = s_col
    for _, a, b, _n in merges:
        applied = bpe_merge_replace(applied, a, b)
    enc = base.select("doc_id", applied.alias("s"), n_words.alias("n_words"))
    ss = BPE_SEP * 2
    ss_count = (
        F.length("s") - F.length(F.replace(F.col("s"), F.lit(ss), F.lit("")))
    ) / 2
    return enc.select(
        "doc_id",
        "n_words",
        (ss_count - F.col("n_words")).cast("int").alias("n_subwords"),
    )


def length_outliers(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    lo: float = 0.05,
    hi: float = 0.95,
    id_col: str = "doc_id",
    exact: bool = True,
) -> DataFrame:
    """Per-group distribution gate: flag documents whose ``value_col``
    falls outside the group's [lo, hi] quantile band — the standard
    length/outlier filter a curation pipeline applies per SOURCE (each
    crawl has its own length distribution, so one global cutoff
    over/under-prunes).

    ``exact=True`` uses Spark's exact ``percentile`` — one shuffle on
    the group key, fine when the number of groups is large relative to
    rows-per-group. At 100 TB with millions of rows per group, pass
    ``exact=False``: ``approx_percentile`` (t-digest sketch, map-side
    combinable, bounded memory) computes the bounds without gathering
    any group's values in one place; the gate semantics are unchanged,
    the cut points are approximate (documented epsilon 1e-4).

    The bounds table is one row per group — broadcast back, so the
    gate itself is a narrow scan. Returns
    (id, group, value, p_lo, p_hi, side in {'short','long'}).
    """
    pct = F.percentile if exact else (
        lambda c, p: F.approx_percentile(c, p, 10000)
    )
    bounds = df.groupBy(group_col).agg(
        F.round(pct(F.col(value_col), F.lit(lo)), 6).alias("p_lo"),
        F.round(pct(F.col(value_col), F.lit(hi)), 6).alias("p_hi"),
    )
    joined = df.select(id_col, group_col, value_col).join(
        F.broadcast(bounds), group_col
    )
    return joined.where(
        (F.col(value_col) < F.col("p_lo")) | (F.col(value_col) > F.col("p_hi"))
    ).select(
        id_col,
        group_col,
        value_col,
        "p_lo",
        "p_hi",
        F.when(F.col(value_col) < F.col("p_lo"), F.lit("short"))
        .otherwise(F.lit("long"))
        .alias("side"),
    )


def mixed_language(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_ratio: float = 0.05,
) -> DataFrame:
    """Per-LINE language identification aggregated to a code-switching
    readout: each non-empty line gets the :func:`language_id` marker
    argmax (floor ``min_ratio`` -> 'unk'), and the document reports how
    many confident languages it mixes — real curation pipelines route
    mixed-language docs to separate handling rather than trusting one
    doc-level label.

    Scale shape: lines explode once (corpus line count rows), the
    per-line scoring is a narrow expression, and both aggregates are
    map-side-combined groupBys keyed by doc. Returns
    (doc_id, n_lines, n_langs, main_lang, is_mixed).
    """
    from pyspark.sql import Window

    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), "\n")).alias("line"),
    ).where(F.length(F.trim(F.col("line"))) > 0)
    toks = _ws_tokens("line")
    base = lines.select("doc_id", toks.alias("_t"))
    langs = sorted(LANG_MARKERS)
    scored = base.select("doc_id", *_marker_score_cols(prefix="_s_")).withColumn(
        "_best", F.greatest(*[F.col(f"_s_{lang}") for lang in langs])
    )
    lang_case = _argmax_lang_case("_best")
    tagged = scored.select(
        "doc_id",
        F.when(F.col("_best") < min_ratio, F.lit("unk"))
        .otherwise(lang_case)
        .alias("line_lang"),
    )
    per_lang = tagged.groupBy("doc_id", "line_lang").agg(
        F.count("*").alias("n")
    )
    # argmax(n desc, lang asc) folded into the SAME aggregate as the
    # totals: min over struct(-n, lang) is exactly that ordering, and
    # min skips the NULL struct of 'unk' rows — all-unk docs fall to the
    # coalesce like the old left join's missing row did. The previous
    # shape ran a row_number window over per_lang plus a doc_id join of
    # two per-doc frames (r11, guide §2.4: one groupBy instead of
    # groupBy + window + join).
    return per_lang.groupBy("doc_id").agg(
        F.sum("n").cast("int").alias("n_lines"),
        F.count(F.when(F.col("line_lang") != "unk", True))
        .cast("int")
        .alias("n_langs"),
        F.coalesce(
            F.min(
                F.when(
                    F.col("line_lang") != "unk",
                    F.struct((-F.col("n")).alias("_negn"), "line_lang"),
                )
            )["line_lang"],
            F.lit("unk"),
        ).alias("main_lang"),
    ).select(
        "doc_id",
        "n_lines",
        "n_langs",
        "main_lang",
        (F.col("n_langs") >= 2).alias("is_mixed"),
    )


def rare_token_ratio(
    df: DataFrame,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document fraction of token OCCURRENCES whose corpus document
    frequency is below ``min_df`` — a cheap OOV/noise signal: docs made
    of tokens nothing else uses are usually mojibake, hashes, or
    minified blobs, and they also blow up tokenizer vocab tails.

    Scale shape: one explode, one distinct+groupBy to get the df table
    (term-keyed shuffle), one term-keyed equi-join back (both sides are
    term-partitioned — no replication), and a map-side-combined per-doc
    aggregate. No driver-side state; the df table never collects.
    Returns (doc_id, n_tokens, n_rare, rare_ratio).
    """
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        _ws_tokens(text_col).alias("_t"),
    ).where(F.length(F.trim(F.col(text_col))) > 0)
    occ = toked.select("doc_id", F.explode("_t").alias("term"))
    dfreq = (
        occ.distinct()
        .groupBy("term")
        .agg(F.count("*").alias("dfreq"))
    )
    joined = occ.join(dfreq, "term")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("dfreq") < min_df, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_rare",
            F.round(
                F.col("n_rare").cast("double") / F.col("n_tokens"), 6
            ).alias("rare_ratio"),
        )
    )


def collocations(
    df: DataFrame,
    min_count: int = 5,
    top_k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Top-k bigram collocations by count, PMI-scored (Church & Hanks
    1990): pmi = log2( p(xy) / (p(x)p(y)) ) with all probabilities from
    corpus counts. ``min_count`` drops noise bigrams; ordering is by the
    INTEGER count (then words) so the result order never hinges on a
    float boundary — pmi rides along as a rounded readout column.

    Scale shape: one explode to bigram occurrences, one map-side-combined
    count per bigram, a term-keyed join against the unigram count table
    (twice: left word, right word), two broadcast single-row totals, and
    a TakeOrdered top-k. Returns (w1, w2, n_pair, pmi).
    """
    toked = df.select(
        _ws_tokens(text_col).alias("_t")
    ).where(F.length(F.trim(F.col(text_col))) > 0)
    # explode_outer + IS NOT NULL and no size filter: either would copy
    # the tokenizer into a pushed-down filter (functions.text.doc_terms)
    uni = (
        toked.select(F.explode_outer("_t").alias("w"))
        .where(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    m = F.greatest(F.size("_t") - 1, F.lit(0))  # bigrams; 0 for short docs
    pairs = toked.select(
        F.explode_outer(
            F.zip_with(
                F.slice("_t", 1, m),
                F.slice("_t", 2, m),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).where(F.col("p").isNotNull())
    # one bigram explode only: the total-pair count derives from the
    # per-pair count table (sum of n), and because both branches share
    # the identical groupBy subplan, ReuseExchange materializes the
    # corpus-wide explode+shuffle once at the physical level
    all_pairs = (
        pairs.select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
    )
    pair_counts = all_pairs.where(F.col("n_pair") >= min_count)
    n_uni = uni.agg(F.sum("c").alias("n_tok"))
    n_big = all_pairs.agg(F.sum("n_pair").alias("n_pairs_total"))
    scored = (
        pair_counts.join(
            uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1"
        )
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.log2(
                    (
                        F.col("n_pair").cast("double")
                        * F.col("n_tok")
                        * F.col("n_tok")
                    )
                    / (
                        F.col("n_pairs_total").cast("double")
                        * F.col("c1")
                        * F.col("c2")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("n_pair").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(top_k)


def source_unigram_kl(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source KL divergence (bits) of the source's unigram token
    distribution from the whole-corpus distribution — the standard
    domain-shift readout for mixture design: a source with near-zero KL
    adds little diversity; an extreme-KL source is an outlier domain.
    KL(s||corpus) is finite here by construction (every source term is
    in the corpus distribution).

    Scale shape: one explode; (source, term) and (term) count tables off
    the same pass (map-side combined); a term-keyed equi-join between
    them (co-partitioned, no replication); broadcast single-row corpus
    total; one final per-source aggregate. Returns
    (source, n_tokens, kl_bits).
    """
    occ = df.select(
        F.col(source_col).alias("source"),
        F.explode(
            _ws_tokens(text_col)
        ).alias("term"),
    ).where(F.length(F.trim(F.col(text_col))) > 0)
    st = occ.groupBy("source", "term").agg(F.count("*").alias("c_st"))
    # global term counts derive from the (source, term) table — far
    # smaller than re-aggregating the corpus-sized occurrence stream
    t = st.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    s = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    total = t.agg(F.sum("c_t").alias("n"))
    contrib = (
        st.join(t, "term")
        .join(F.broadcast(s), "source")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            (
                (F.col("c_st") / F.col("n_s"))
                * F.log2(
                    (F.col("c_st").cast("double") * F.col("n"))
                    / (F.col("n_s").cast("double") * F.col("c_t"))
                )
            ).alias("_kl_term"),
        )
    )
    return (
        contrib.groupBy("source")
        .agg(F.round(F.sum("_kl_term"), 6).alias("kl_bits"))
        .join(F.broadcast(s.select("source", F.col("n_s").alias("n_tokens"))), "source")
        .select("source", "n_tokens", "kl_bits")
    )


def zipf_fit(
    df: DataFrame,
    top_n: int = 1000,
    text_col: str = "text",
) -> DataFrame:
    """Least-squares fit of the corpus rank-frequency curve in log-log
    space over the ``top_n`` most frequent tokens — natural text tracks
    Zipf's law with slope near -1; a much flatter slope flags synthetic
    or templated corpora, a steeper one flags collapsed vocabulary.
    Returns ONE row (n_terms, slope, intercept).

    Scale shape: token counts are one map-side-combined groupBy; the
    global frequency rank uses :func:`rank.global_row_number` (two-level
    bucketed rank — NO single-partition window); the regression moments
    are one tiny aggregate over <= top_n rows.
    """
    from .rank import global_row_number

    counts = (
        df.select(
            F.explode(
                _ws_tokens(text_col)
            ).alias("term")
        )
        .where(F.length(F.trim(F.col(text_col))) > 0)
        .groupBy("term")
        .agg(F.count("*").alias("c"))
        .withColumn("_negc", -F.col("c"))
    )
    ranked = global_row_number(counts, "_negc", ["term"], out_col="rank").where(
        F.col("rank") <= top_n
    )
    pts = ranked.select(
        F.log2(F.col("rank").cast("double")).alias("x"),
        F.log2(F.col("c").cast("double")).alias("y"),
    )
    m = pts.agg(
        F.count("*").alias("n_terms"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
    )
    slope = (F.col("mxy") - F.col("mx") * F.col("my")) / (
        F.col("mxx") - F.col("mx") * F.col("mx")
    )
    return m.select(
        "n_terms",
        F.round(slope, 6).alias("slope"),
        F.round(F.col("my") - slope * F.col("mx"), 6).alias("intercept"),
    )


def readability(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flesch reading-ease per document (206.835 - 1.015·words/sentences
    - 84.6·syllables/words) with regex-heuristic sentence and syllable
    counts (vowel-group runs ≈ syllables) — the classic
    audience-targeting signal for corpus curation, and a cheap proxy
    that separates prose from listings/code.

    Pure narrow map, zero shuffle. Returns
    (doc_id, n_words, n_sentences, n_syllables, flesch).
    """
    words = _ws_tokens(text_col)
    sents = F.size(
        F.filter(
            F.split(F.col(text_col), r"[.!?]+"),
            lambda s: F.length(F.trim(s)) > 0,
        )
    )
    sylls = F.aggregate(
        F.transform(
            words, lambda w: F.size(F.split(w, "[aeiouy]+")) - F.lit(1)
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    base = df.where(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col).alias("doc_id"),
        F.size(words).alias("n_words"),
        F.greatest(sents, F.lit(1)).alias("n_sentences"),
        sylls.alias("n_syllables"),
    )
    return base.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("n_words").cast("double") / F.col("n_sentences"))
            - F.lit(84.6)
            * (
                F.col("n_syllables").cast("double")
                / F.greatest(F.col("n_words"), F.lit(1))
            ),
            6,
        ).alias("flesch"),
    )


def source_vocab_overlap(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources: (source_a, source_b,
    n_common, jaccard) with a < b — near-1 overlap means two "sources"
    are really the same crawl twice (merge or drop one before mixture
    weighting); near-0 means disjoint domains.

    Scale shape: distinct (source, term) is one shuffle; the self-join
    key is the term, whose per-key fan-out is bounded by the NUMBER OF
    SOURCES (each term appears once per source after distinct), so the
    join is linear in vocabulary size — not corpus size, not quadratic.
    """
    st = (
        df.select(
            F.col(source_col).alias("source"),
            F.explode(
                _ws_tokens(text_col)
            ).alias("term"),
        )
        .where(F.length(F.trim(F.col(text_col))) > 0)
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count("*").alias("n_terms"))
    inter = (
        st.alias("x")
        .join(st.alias("y"), "term")
        .where(F.col("x.source") < F.col("y.source"))
        .groupBy(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_a"),
                    F.col("n_terms").alias("na"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"),
                    F.col("n_terms").alias("nb"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


#: Keyword markers for code detection — substring hits on the lowered
#: text. Chosen to be language-diverse yet rare in prose.
CODE_KEYWORDS = ["def ", "import ", "return ", "function ", "#include", "var "]

#: Symbol characters counted toward the code-symbol ratio. Shared
#: Java-regex / RE2 class so the oracle applies the identical automaton.
CODE_SYMBOL_RE = r"[{}()\[\];=<>]"


def code_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Code-vs-prose signals per document — the mixture pipeline needs to
    route code into its own bucket (different dedup granularity,
    different quality rules, usually a dedicated mixture weight):
    ``(doc_id, symbol_ratio, brace_line_frac, keyword_hits, code_like)``.

    - symbol_ratio: fraction of characters in ``CODE_SYMBOL_RE``
      (braces, parens, semicolons, comparisons) — prose sits near 0,
      code near 0.03-0.15;
    - brace_line_frac: fraction of non-empty lines ending in ``{``,
      ``}`` or ``;`` (statement-terminated languages);
    - keyword_hits: how many of ``CODE_KEYWORDS`` appear at least once
      (lowered substring);
    - code_like: symbol_ratio > 0.03 OR brace_line_frac > 0.2 OR
      keyword_hits >= 2.

    All four are narrow column expressions — zero shuffles, the whole
    pass rides the scan. Heuristic by design: it's the cheap router in
    front of a trained classifier (classifier.logreg_train distills
    these plus quality signals when labels exist).
    """
    txt = F.col(text_col)
    n = F.greatest(F.length(txt), F.lit(1)).cast("double")
    sym = F.length(txt) - F.length(F.regexp_replace(txt, CODE_SYMBOL_RE, ""))
    lines = F.filter(
        F.transform(F.split(txt, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    brace_lines = F.filter(lines, lambda l: l.rlike("[{};]$"))
    low = F.lower(txt)
    hits = None
    for kw in CODE_KEYWORDS:
        h = F.when(low.contains(kw), 1).otherwise(0)
        hits = h if hits is None else hits + h
    symbol_ratio = F.round(sym / n, 6)
    brace_frac = F.round(
        F.size(brace_lines)
        / F.greatest(F.size(lines), F.lit(1)).cast("double"),
        6,
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        symbol_ratio.alias("symbol_ratio"),
        brace_frac.alias("brace_line_frac"),
        hits.cast("int").alias("keyword_hits"),
        (
            (symbol_ratio > 0.03)
            | (brace_frac > 0.2)
            | (hits >= 2)
        ).alias("code_like"),
    )


def textrank_chunks(
    docs: DataFrame,
    chunk_tokens: int = 16,
    top_s: int = 3,
    damping: float = 0.85,
    iterations: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """TextRank key-passage extraction (Mihalcea & Tarau, EMNLP 2004):
    rank each document's passages by within-doc graph centrality and
    keep the top ``top_s`` — the extractive-summary / key-sentence
    sampler a curation pipeline uses to distill long documents.
    Capability ADDITION (the reference has no summarization tier).

    Passages are fixed-token chunks (``curation.chunk_documents`` with
    zero overlap) — an honest sentence proxy for unpunctuated corpora;
    swap the splitter for real sentence bounds on punctuated text. The
    exact contract, mirrored term-for-term by the DuckDB oracle:

    - nodes: a doc's chunks; edge weight = Jaccard over each chunk's
      DISTINCT space-split tokens (edges with weight 0 dropped). The
      small-int ratio is exactly representable, so no rounding is
      needed before the iteration.
    - weighted PageRank, ``iterations`` FIXED rounds (oracle-unrolled,
      the knn_pagerank contract): pr0 = 1/n_doc; each round
      pr_i = (1-d)/n_doc + d * sum_j pr_j * w_ji / outw_j, isolated
      chunks keep the teleport floor.
    - output: (doc_id, chunk_id, rank, score) with score rounded 6 dp
      BEFORE ranking and the chunk_id tiebreak, rank <= top_s.

    Scale shape (r11): the graph is WITHIN-doc by construction, so the
    whole rank loop runs per doc behind ONE groupBy(doc_id) — chunk
    token arrays cross into an Arrow worker once and the per-doc
    O(s_d^2) pair work + ``iterations`` rounds happen in-process
    (s_d = len/chunk_tokens, bounded by the upstream doc length cap).
    The previous shape ran each round as a corpus-wide equi-join +
    groupBy over a checkpointed edge table: 12 Exchanges / 7
    SortMergeJoins and two localCheckpoint materializations per call
    vs ONE Exchange now. At 100 TB the old shape shuffled the edge
    table ``iterations`` times; this one shuffles the chunk tokens
    once and nothing else. Float parity: edge weights are the same
    int/int double divisions; per-doc sums run in deterministic
    chunk-id order (the old groupBy summed in partition order — both
    land on the same 6-dp-rounded scores, which is the output
    contract the oracle pins).
    """
    if top_s < 1 or iterations < 1 or chunk_tokens < 1:
        raise ValueError("top_s, iterations, chunk_tokens must be >= 1")
    from .curation import chunk_documents

    d = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    chunks = chunk_documents(d, chunk_tokens=chunk_tokens, overlap=0).select(
        "doc_id",
        "chunk_id",
        F.array_distinct(F.split("chunk_text", " ")).alias("toks"),
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.collect_list(F.struct("chunk_id", "toks")).alias("cs")
    )
    damp, iters, keep = float(damping), int(iterations), int(top_s)
    # id dtype rides the input schema (the simhash_fingerprints idiom) —
    # a string/int doc id must not be coerced through int64. chunk_id
    # stays BIGINT: that is the shipped output contract the oracle's
    # dtype-sensitive hash pins (chunk_documents emits int, but this
    # operator has published long since the r11 kernel).
    id_type = per_doc.schema["doc_id"].dataType.simpleString()
    _PD_INT = {"bigint": "int64", "int": "int32", "smallint": "int16", "tinyint": "int8"}
    id_pd_dtype = _PD_INT.get(id_type)

    def run(batches):
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as pd

        six = Decimal("0.000001")

        def round6(x: float) -> float:
            # F.round's exact semantics: Spark rounds
            # BigDecimal.valueOf(double) — the SHORTEST decimal repr —
            # with HALF_UP; Python round() is half-even on the binary
            # value and diverges on exact 6-dp halves
            return float(Decimal(repr(x)).quantize(six, rounding=ROUND_HALF_UP))

        for pdf in batches:
            o_doc: list = []
            o_chunk: list = []
            o_rank: list = []
            o_score: list = []
            for doc_id, cs in zip(pdf["doc_id"], pdf["cs"]):
                members = sorted(
                    ((int(c["chunk_id"]), set(c["toks"])) for c in cs),
                    key=lambda t: t[0],
                )
                ids = [m[0] for m in members]
                sets = [m[1] for m in members]
                n = len(ids)
                out_edges: dict = {i: [] for i in ids}
                for ai in range(n):
                    sa = sets[ai]
                    for bi in range(ai + 1, n):
                        inter = len(sa & sets[bi])
                        if inter:
                            w = inter / len(sa | sets[bi])
                            out_edges[ids[ai]].append((ids[bi], w))
                            out_edges[ids[bi]].append((ids[ai], w))
                ow = {
                    s: sum(w for _, w in es) for s, es in out_edges.items()
                }
                pr = dict.fromkeys(ids, 1.0 / n)
                for _ in range(iters):
                    contrib = dict.fromkeys(ids, 0.0)
                    for s, es in out_edges.items():
                        ps, o = pr[s], ow[s]
                        if not es:
                            continue
                        for t, w in es:
                            contrib[t] += ps * (w / o)
                    pr = {
                        i: (1.0 - damp) / n + damp * contrib[i] for i in ids
                    }
                ranked = sorted(
                    ((round6(pr[i]), i) for i in ids),
                    key=lambda t: (-t[0], t[1]),
                )
                for r, (sc, i) in enumerate(ranked[:keep], 1):
                    o_doc.append(doc_id)
                    o_chunk.append(i)
                    o_rank.append(r)
                    o_score.append(sc)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(o_doc, dtype=id_pd_dtype),
                    "chunk_id": pd.Series(o_chunk, dtype="int64"),
                    "rank": pd.Series(o_rank, dtype="int32"),
                    "score": pd.Series(o_score, dtype="float64"),
                }
            )

    return per_doc.mapInPandas(
        run, f"doc_id {id_type}, chunk_id long, rank int, score double"
    )


# Gopher rule-filter stop words (Rae et al. 2021, arXiv:2112.11446 §A1.1) —
# NOT the retrieval STOPWORDS list: the rule counts how many of these
# exact eight appear at least once.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 §A1.1 —
    the rule filter MassiveWeb used and later pipelines like RefinedWeb
    and Dolma inherit). Default thresholds are the paper's; callers tune
    them per corpus. Per doc: every signal plus a per-rule verdict
    folded into one ``keep`` flag:

    - ``n_words`` in [min_words, max_words]
    - ``mean_word_len`` in [min, max] (exact char sum over kept tokens)
    - ``symbol_ratio`` (count of '#', '...', '…' per word) <= max
    - ``bullet_frac`` (lines starting '•'/'-'/'*' after space-ltrim) <= max
    - ``ellipsis_frac`` (lines ending '...'/'…' after space-rtrim) <= max
    - ``alpha_word_frac`` (words containing [a-z]; English-focused like
      the paper) >= min
    - ``stop_hits`` (how many of the paper's 8 stop words appear) >= min

    All ratios 6-dp rounded BEFORE threshold compares (engine-exact
    replay); empty lines are filtered from both line denominators.

    Scale shape: one narrow scan, per-row array folds only — no joins,
    no shuffle, no UDFs; at 100 TB this is a pure map stage that
    pipelines into whatever consumes ``keep``.
    """
    toks = ws_tokens(text_col)
    txt = F.col(text_col)
    base = df.select(
        F.col(id_col).alias("doc_id"), txt.alias("_txt"), toks.alias("_t")
    )
    n = F.greatest(F.size("_t"), F.lit(1)).cast("double")
    mean_len = F.round(
        F.aggregate(
            F.transform(F.col("_t"), lambda w: F.length(w)),
            F.lit(0),
            lambda a, x: a + x,
        ).cast("double")
        / n,
        6,
    )
    t = F.col("_txt")
    hash_cnt = F.length(t) - F.length(F.regexp_replace(t, r"#", ""))
    dots_cnt = (F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))) / F.lit(3)
    uell_cnt = F.length(t) - F.length(F.regexp_replace(t, "…", ""))
    symbol_ratio = F.round((hash_cnt + dots_cnt + uell_cnt).cast("double") / n, 6)
    lines = F.filter(F.split(t, "\n"), lambda l: F.length(l) > 0)
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet = F.size(
        F.filter(
            lines,
            lambda l: F.substring(F.ltrim(l), 1, 1).isin("•", "-", "*"),
        )
    )
    ell = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
        )
    )
    bullet_frac = F.round(bullet.cast("double") / n_lines, 6)
    ellipsis_frac = F.round(ell.cast("double") / n_lines, 6)
    alpha_frac = F.round(
        F.size(F.filter(F.col("_t"), lambda w: w.rlike("[a-z]"))).cast("double") / n,
        6,
    )
    stop_hits = None
    for w in GOPHER_STOPWORDS:
        hit = F.array_contains(F.col("_t"), w).cast("int")
        stop_hits = hit if stop_hits is None else stop_hits + hit
    sig = base.select(
        "doc_id",
        F.size("_t").alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("bullet_frac") <= max_bullet_frac)
        & (F.col("ellipsis_frac") <= max_ellipsis_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stop_hits") >= min_stop_hits)
    )
    return sig.select("*", keep.cast("int").alias("keep"))
