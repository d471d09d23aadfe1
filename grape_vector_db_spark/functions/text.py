"""Reference-faithful text functions: tokenizer, mock embedder, snippets.

Tokenizer parity (src/sparse.rs:272-315):
  lowercase -> split on whitespace -> keep only alphanumeric chars inside
  each token -> drop empty, length<=1, and stopwords (EN+ZH list at
  src/sparse.rs:275-279). Term frequency is **relative**: count / total kept
  tokens — an idiosyncrasy of the reference that changes BM25 scores vs
  textbook; we preserve it.

Everything is built from JVM-side expressions (split / transform / filter /
explode) so tokenization of a 100 TB corpus is a single narrow-then-explode
pipeline with no Python involvement; the only shuffle is the downstream
groupBy(doc_id, term).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Exact stopword list from the reference, src/sparse.rs:275-279.
STOPWORDS: list[str] = [
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from", "has",
    "he", "in", "is", "it", "its", "of", "on", "that", "the", "to", "was",
    "will", "with",
    "的", "了", "在", "是", "有", "和", "与", "或", "但", "而", "这", "那",
    "一", "不", "也", "就",
]

# Keep Unicode letters+digits, mirroring Rust char::is_alphanumeric
# (src/sparse.rs:296-299). Java regex \p{L}\p{N} ≙ RE2 \pL\pN in the
# oracle; both are CODE-POINT aware (verified: U+1D400 survives, emoji
# stripped — an earlier comment claimed surrogate-halving here, which
# does not happen on this path). The hypothesis property tests still
# generate BMP-only text because the pure-Python replicas (str.isalnum)
# differ from \p{L}\p{N} on a few exotic categories, not because of
# the JVM.
_NON_ALNUM = r"[^\p{L}\p{N}]"

# Rust split_whitespace splits on the Unicode White_Space property —
# Java's \s is ASCII-only (misses U+00A0 etc., found by hypothesis), so
# spell the class out: ASCII whitespace + NEL + all Z-category separators.
# RE2 (DuckDB oracle) equivalent: [\t\n\x0B\f\r\x{85}\pZ]+
WS_SPLIT = r"[\t\n\x0B\f\r\x{85}\p{Z}]+"


def ws_tokens_cased(col: Column | str) -> Column:
    """Case-PRESERVING whitespace tokens: the :func:`ws_tokens` contract
    (Unicode whitespace split, empty tokens filtered — edge whitespace
    never grows a phantom '' token, a whitespace-only string yields zero
    tokens) without the lowercase, for operators that re-emit the tokens
    as text (sequence packing, FIM, span corruption, chunking) or count
    them as token budgets. The previous split(trim(x), '\\s+') idiom
    left one '' token per trailing newline (trim strips only ' ') and
    never split interior Unicode whitespace, so token counts disagreed
    with every ws_tokens-based statistic on the same corpus. Oracle
    twin: list_filter(regexp_split_to_array(x,
    '[\\t\\n\\x0B\\f\\r\\x85\\pZ]+'), w -> w != '')."""
    col = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(col, WS_SPLIT), lambda w: F.length(w) > 0)


def ws_tokens(col: Column | str) -> Column:
    """Whitespace tokens (lowercased): the canonical repo-wide
    convention — Unicode whitespace class (WS_SPLIT) with empty tokens
    FILTERED, so edge whitespace never grows a phantom '' token and a
    whitespace-only string yields zero tokens. Oracle twin:
    list_filter(regexp_split_to_array(lower(x),
    '[\\t\\n\\x0B\\f\\r\\x85\\pZ]+'), w -> w != '')."""
    col = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.lower(col), WS_SPLIT), lambda w: F.length(w) > 0
    )


def tokens(col: Column | str) -> Column:
    """array<string> of kept tokens, in document order (duplicates kept)."""
    col = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(col), WS_SPLIT)
    toks = F.transform(toks, lambda w: F.regexp_replace(w, _NON_ALNUM, ""))
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.filter(
        toks,
        lambda w: (F.length(w) > F.lit(1)) & ~F.array_contains(stop, w),
    )


def word_grams(toks: Column, n: int) -> Column:
    """All space-joined word ``n``-grams of a token array, in order.

    Built as a zip_with fold over ``n`` aligned length-(L-n+1) slices —
    ONE O(L) pass — instead of a per-position ``slice`` lambda, whose
    per-gram array copy makes gram generation O(L*n) allocations and
    ~3x slower end-to-end at sf0.1 (measured on the bigram count path).
    Rows with fewer than ``n`` tokens yield an EMPTY array (the length
    expression clamps at 0); callers that want a whole-doc fallback
    gram wrap this in their own ``when``.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if n == 1:
        return toks
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    acc = F.slice(toks, 1, m)
    for k in range(2, n + 1):
        acc = F.zip_with(
            acc, F.slice(toks, k, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return acc


def doc_terms(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf) with **relative** term frequency.

    Mirrors SimpleTokenizer::tokenize (src/sparse.rs:285-315): tf is the
    token count divided by the total kept tokens of that document. Documents
    whose kept-token list is empty produce no rows (reference yields an
    empty map for them).

    Scale: explode is narrow; the groupBy shuffles on (doc_id, term) with
    map-side partial aggregation. total-token counts are carried through the
    aggregation (no second pass over the text, no window over raw tokens).

    ``explode_outer`` plus ``term IS NOT NULL``, not ``explode``: for an
    inner ``explode`` Spark's InferFiltersFromGenerate adds
    ``size(toks) > 0 AND isnotnull(toks)`` below the projection, which
    copies the interpreted tokenizer into the plan twice more.
    """
    toked = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
    exploded = toked.select(
        "doc_id", F.size("toks").alias("n_tok"), F.explode_outer("toks").alias("term")
    ).where(F.col("term").isNotNull())
    return (
        exploded.groupBy("doc_id", "term")
        .agg(F.count("*").alias("cnt"), F.first("n_tok").alias("n_tok"))
        .select(
            "doc_id",
            "term",
            (F.col("cnt").cast("double") / F.col("n_tok").cast("double")).alias("tf"),
        )
    )


def mock_embedding_py(text: str, dimension: int) -> list[float]:
    """Pure-Python replica of the reference's deterministic mock embedder
    (src/embeddings.rs:229-250): v[i] = (bytes[i%len]/255 + i*0.01) % 1 - 0.5,
    then L2-normalized (float32 arithmetic approximated in f64 — used only in
    unit tests as a fixture, not in any data path)."""
    bs = text.encode("utf-8")
    if not bs:
        return [0.0] * dimension
    v = [((bs[i % len(bs)] / 255.0 + i * 0.01) % 1.0) - 0.5 for i in range(dimension)]
    norm = sum(x * x for x in v) ** 0.5
    if norm > 0:
        v = [x / norm for x in v]
    return v


def mock_embedding_raw(text_col: str, dim: int) -> Column:
    """Pre-normalization mock-embedding vector (see :func:`mock_embedding`).
    Exposed separately so callers can materialize it before normalizing —
    referencing it twice (norm + divide) would otherwise duplicate the
    whole ascii/CASE tree per element."""
    # UTF-8 BYTE indexing, not characters: mock_embedding_py (and the
    # reference, src/embeddings.rs:229-250) index text.encode('utf-8') —
    # the previous ascii(substr(..)) variant read CHARACTERS, so the SQL
    # and Python embedders diverged on any non-ASCII text (ascii('X')
    # past 255 also breaks the /255 fold). length() on a BINARY column
    # counts bytes; conv(hex(1-byte-substr)) extracts the byte value.
    b = f"cast({text_col} as binary)"
    byte_i = (
        f"cast(conv(hex(substr({b}, (i % length({b})) + 1, 1)), 16, 10)"
        " as double)"
    )
    return F.expr(
        f"""
        transform(sequence(0, {dim - 1}), i ->
          CASE WHEN length({b}) = 0 THEN 0.0D
          ELSE
            ({byte_i} / 255.0D + i * 0.01D)
            - floor({byte_i} / 255.0D + i * 0.01D)
            - 0.5D
          END)
        """
    )


def normalize_vector(raw: Column) -> Column:
    """L2-normalize an array<double> column; zero vector stays zero."""
    nrm = F.sqrt(
        F.aggregate(F.transform(raw, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    return F.transform(raw, lambda x: F.coalesce(F.try_divide(x, nrm), F.lit(0.0)))


def mock_embedding(text_col: str, dim: int) -> Column:
    """Column-expression port of the reference's deterministic mock embedder
    (src/embeddings.rs:229-250): v[i] = frac(bytes[i % len]/255 + i*0.01)
    - 0.5, then L2-normalized; empty text -> all zeros.

    frac(x) = x - floor(x) replaces Rust's % 1.0 (identical for the
    positive inputs involved, and unambiguous across engines). All math in
    DOUBLE; used as the batch analogue of the embedding-provider UDF
    surface (S14) and reproducible in the DuckDB oracle. For large corpora
    prefer materializing :func:`mock_embedding_raw` into a column first,
    then :func:`normalize_vector` over it (q_mock_embed does this).
    """
    return normalize_vector(mock_embedding_raw(text_col, dim))


def text_match_score(
    title_col: Column | None, content_col: Column, query: str
) -> Column:
    """F10 contains-scoring: title hit +2.0, content hit +1.0 per query
    term (src/query.rs:117-127; the hybrid per-term variant is
    src/hybrid.rs:645-656). Pass ``title_col=None`` for content-only."""
    terms = [t for t in query.lower().split() if t]
    score = F.lit(0.0)
    for t in terms:
        if title_col is not None:
            score = score + F.when(
                F.lower(title_col).contains(t), F.lit(2.0)
            ).otherwise(F.lit(0.0))
        score = score + F.when(
            F.lower(content_col).contains(t), F.lit(1.0)
        ).otherwise(F.lit(0.0))
    return score


def snippet(text_col: Column, query: str, before: int = 50, after: int = 150) -> Column:
    """Extract a ±(before,after)-char window around the first occurrence of
    ``query`` (src/query.rs:207-254). Returns NULL when absent. The
    reference prefixes/suffixes an ellipsis when the window is clipped."""
    pos = F.locate(query.lower(), F.lower(text_col))  # 1-based, 0 if absent
    start = F.greatest(F.lit(1), pos - F.lit(before))
    end = F.least(F.length(text_col), pos + F.lit(len(query) + after - 1))
    body = F.substring(text_col, start, end - start + F.lit(1))
    clipped = F.concat(
        F.when(start > F.lit(1), F.lit("...")).otherwise(F.lit("")),
        body,
        F.when(end < F.length(text_col), F.lit("...")).otherwise(F.lit("")),
    )
    return F.when(pos > F.lit(0), clipped)
