"""Text analysis operators over a document table.

Pure Column expressions (JVM-side, whole-stage codegen) throughout:
tokenization, token/char statistics, stopword & punctuation ratios, a
quality score, a language heuristic, and document fingerprinting
(normalized-text hash). At 100 TB these are embarrassingly parallel
map-side operators: no shuffle at all unless aggregated. The ONE
exception is ``bpe_encode`` — encoding with a production-sized merge
vocabulary cannot live in an expression tree, so it is an
Arrow-batched pandas UDF (never row-at-a-time), equivalence-tested
against the expression fold.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "tokens_col",
    "token_count_col",
    "regex_token_count_col",
    "stopword_ratio_col",
    "punct_ratio_col",
    "quality_score_col",
    "fingerprint_col",
    "text_stats",
    "text_quality",
    "chunk_documents",
    "bpe_words",
    "bpe_merge_fold",
    "bpe_pair_counts",
    "bpe_train",
    "save_bpe",
    "load_bpe",
    "bpe_encode",
]

# tiny multilingual stopword lists for the language-id heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "to", "and", "in", "is", "on", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "un", "en", "que", "pour", "dans", "les"],
    "de": ["der", "die", "das", "und", "in", "von", "zu", "mit", "den", "ist"],
}

# BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space symbol
BPE_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization, empty tokens dropped."""
    return F.filter(F.split(text, "\\s+"), lambda t: t != "")


def token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text)).cast("long")


def regex_token_count_col(text: Column, pattern: str = BPE_REGEX) -> Column:
    """Token count under a BPE-ish regex pre-tokenizer."""
    return F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0))).cast("long")


def stopword_ratio_col(text: Column, lang: str = "en") -> Column:
    toks = F.transform(tokens_col(text), lambda t: F.lower(t))
    stops = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS[lang])))
    n = F.size(toks)
    return F.when(n > 0, stops / n).otherwise(F.lit(0.0))


def punct_ratio_col(text: Column) -> Column:
    no_punct = F.regexp_replace(text, "[^a-zA-Z0-9\\s]", "")
    n = F.length(text)
    return F.when(n > 0, (n - F.length(no_punct)) / n).otherwise(F.lit(0.0))


def quality_score_col(text: Column, lang: str = "en") -> Column:
    """Heuristic document quality in [0, 1]: length signal x low-punct
    signal x stopword-presence signal (the usual cheap pretraining
    filters: too-short, symbol-heavy, and no-function-word docs score
    low)."""
    n_tokens = token_count_col(text)
    length_score = F.least(n_tokens / F.lit(20.0), F.lit(1.0))
    punct_score = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio_col(text) * 4)
    stop_score = F.least(stopword_ratio_col(text, lang) * 5, F.lit(1.0))
    return length_score * punct_score * stop_score


def fingerprint_col(text: Column, fast: bool = False) -> Column:
    """Deterministic document fingerprint of whitespace-normalized,
    lowercased text. Default md5 (oracle-portable); ``fast=True`` uses
    xxhash64 — 8-byte group keys and ~10x less hashing CPU, the
    production path (same convention as ext/dedup's MinHash)."""
    normalized = F.lower(F.trim(F.regexp_replace(text, "\\s+", " ")))
    if fast:
        return F.xxhash64(normalized)
    return F.md5(normalized.cast("binary"))


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    t = F.col(text_col)
    n_tokens = token_count_col(t)
    return df.select(
        F.col(id_col),
        F.length(t).cast("long").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        regex_token_count_col(t).alias("n_bpe_tokens"),
        F.when(n_tokens > 0, F.length(t) / n_tokens)
        .otherwise(F.lit(0.0))
        .alias("chars_per_token"),
    )


def text_quality(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        stopword_ratio_col(t).alias("stopword_ratio"),
        punct_ratio_col(t).alias("punct_ratio"),
        quality_score_col(t).alias("quality_score"),
    )


def _ngram_col(words: Column, n: int) -> Column:
    """Word n-grams as space-joined strings; empty array when the doc has
    fewer than ``n`` words. Pure expression — no explode, no shuffle."""
    size = F.size(words)
    return F.when(
        size >= n,
        F.transform(
            F.sequence(F.lit(0), size - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + F.lit(k + 1)) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _run_stats_col(grams: Column) -> Column:
    """struct(maxrun, dup, total) over an n-gram array: ``maxrun`` is the
    multiplicity of the most frequent gram, ``dup`` the number of gram
    instances whose gram occurs >= 2 times, ``total`` the instance count.

    Computed as a single fold over the SORTED array (equal grams are
    adjacent, so frequency = run length): when a run reaches 2 both its
    members enter ``dup``, each further member adds 1. Map-side only —
    the distributed alternative (explode + groupBy doc,gram) shuffles
    every gram instance; this keeps repetition scoring at scan cost,
    which is the difference between one pass and a corpus-sized exchange
    at 100 TB.
    """
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("maxrun"),
        F.lit(0).alias("dup"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        dup = acc["dup"] + F.when(run == 2, 2).when(run > 2, 1).otherwise(0)
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["maxrun"], run).alias("maxrun"),
            dup.alias("dup"),
        )

    folded = F.aggregate(F.sort_array(grams), init, step)
    return F.struct(
        folded["maxrun"].alias("maxrun"),
        folded["dup"].alias("dup"),
        F.size(grams).alias("total"),
    )


def _frac_col(num: Column, den: Column) -> Column:
    """round(num/den, 6) with a 0.0 guard on empty denominators — the
    ONE definition of the repetition fractions, shared by the signal
    query and the curation gate so thresholds tuned against one always
    agree with the other."""
    return F.round(
        F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(F.lit(0.0)),
        6,
    )


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition QC signals per document: the fraction of
    word-bigram instances taken by the single most frequent bigram, and
    the fraction of word-trigram instances whose trigram repeats. High
    values flag boilerplate / degenerate generations for training-data
    filtering.

    The token array and each n-gram array are materialized as real
    columns BEFORE the fold — this module's hard rule: a computed
    expression captured inside a higher-order-function lambda
    re-evaluates per element (the tokenizer would run O(tokens²)
    times; measured 20x wall-clock on the 5k-doc corpus).
    """
    staged = (
        df.select(F.col(id_col), F.col(text_col))
        .withColumn("__words", tokens_col(F.col(text_col)))
        .withColumn("__b2", _ngram_col(F.col("__words"), 2))
        .withColumn("__b3", _ngram_col(F.col("__words"), 3))
    )
    b = _run_stats_col(F.col("__b2"))
    t3 = _run_stats_col(F.col("__b3"))
    return staged.select(
        F.col(id_col),
        b["total"].cast("long").alias("n_bigrams"),
        _frac_col(b["maxrun"], b["total"]).alias("top_bigram_frac"),
        _frac_col(t3["dup"], t3["total"]).alias("dup_trigram_frac"),
    )


def curation_decisions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    min_tokens: int = 25,
    max_top_bigram_frac: float = 0.08,
    target_lang: str = "en",
) -> DataFrame:
    """Single-projection curation gate: keep/drop + sorted reason codes
    per document (too_short / too_repetitive / non_target_lang).

    Stateless and map-side only (0 exchanges), so the SAME function
    curates a batch corpus or a Structured Streaming source unchanged —
    pass a streaming DataFrame and write the result with any sink.
    Token/bigram arrays are staged as real columns first (the HOF
    re-evaluation rule, see repetition_signals)."""
    staged = df.withColumn("__words", tokens_col(F.col(text_col))).withColumn(
        "__b2", _ngram_col(F.col("__words"), 2)
    )
    b = _run_stats_col(F.col("__b2"))
    tbf = _frac_col(b["maxrun"], b["total"])
    sig = staged.select(
        F.col(id_col),
        F.col(lang_col),
        F.size(F.col("__words")).cast("long").alias("n_tokens"),
        tbf.alias("top_bigram_frac"),
    )
    too_short = F.col("n_tokens") < min_tokens
    too_rep = F.col("top_bigram_frac") > max_top_bigram_frac
    # fail CLOSED on missing language: lang != target is NULL for NULL
    # lang, which would make kept NULL (neither kept nor reasoned) and
    # downstream consumers treat the doc as kept
    non_target = F.col(lang_col).isNull() | (F.col(lang_col) != target_lang)
    reasons = F.array_join(
        F.array_sort(
            F.filter(
                F.array(
                    F.when(too_short, F.lit("too_short")),
                    F.when(too_rep, F.lit("too_repetitive")),
                    F.when(non_target, F.lit("non_target_lang")),
                ),
                lambda x: x.isNotNull(),
            )
        ),
        ",",
    )
    return sig.select(
        F.col(id_col),
        F.col("n_tokens"),
        "top_bigram_frac",
        F.col(lang_col),
        (~too_short & ~too_rep & ~non_target).alias("kept"),
        reasons.alias("drop_reasons"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token windows — the chunking
    stage every RAG/embedding/training pipeline runs before encoding.

    Windows start every ``chunk_tokens - overlap`` tokens and span
    ``chunk_tokens`` (the final window may be shorter; a doc shorter
    than one window yields one chunk). Returns
    (id, chunk_idx, start_token, n_tokens, chunk_text) — offsets are
    1-based token positions so chunks can be traced back into the
    source.

    Scale shape: tokenization is staged as a REAL column before the
    window explode (HOF-lambda capture re-evaluates computed
    expressions per element — the documented O(n^2) tokenizer
    pitfall), then one map-side explode. No shuffle at all: chunking
    is embarrassingly parallel, and downstream encoders read
    (id, chunk_idx)-addressed rows.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap ({overlap}) < chunk_tokens ({chunk_tokens})"
        )
    step = chunk_tokens - overlap
    toks = df.select(
        F.col(id_col), tokens_col(F.lower(F.col(text_col))).alias("__toks")
    )
    n = F.size(F.col("__toks"))
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(step))
    chunked = toks.select(
        id_col,
        n.alias("__n"),
        F.col("__toks"),
        F.posexplode(starts).alias("chunk_idx", "start_token"),
    )
    piece = F.slice(F.col("__toks"), F.col("start_token"), chunk_tokens)
    return (
        chunked.filter(
            # a window starting at s only contributes NEW tokens if a
            # token exists at position s + overlap, i.e. s <= n -
            # overlap; otherwise the whole chunk is contained in the
            # previous window's span (happens for ~overlap/step of all
            # doc lengths — a real duplicate source in a dedup
            # pipeline, not just empty docs). chunk 0 always kept.
            (F.col("start_token") <= F.col("__n") - F.lit(overlap))
            | (F.col("chunk_idx") == 0)
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx"),
            F.col("start_token"),
            F.size(piece).alias("n_tokens"),
            F.concat_ws(" ", piece).alias("chunk_text"),
        )
    )


# =====================================================================
# BPE tokenizer training (iterative merge loop)
# =====================================================================
#
# The reference has no tokenizer surface; this is a training-data-
# pipeline extension (the op every LLM pretraining stack runs before
# anything else). The SCALABLE shape is the classic one: train on the
# DISTINCT-WORD frequency table, not the raw corpus — after one
# corpus-sized groupBy, every merge iteration touches only the
# vocabulary (bounded by distinct words, millions at worst), so the
# loop cost is corpus-size-INDEPENDENT. Per iteration: one map-side
# pair explode + one groupBy + a 1-row argmax collect (the same
# k-row-collect contract as kmeans_embeddings_2iter), then a map-side
# fold re-symbolizes the word table.
#
# Merge-apply is the standard greedy left-to-right scan, expressed as
# an F.aggregate fold: append each incoming symbol, except when the
# accumulator's LAST symbol == left and the incoming == right, in
# which case the last symbol is replaced by left||right. A
# freshly-merged symbol can never re-merge as the RIGHT part within
# the same pass (its string value is left||right != left), which is
# exactly the greedy-scan semantics ("aaaa" + (a,a) -> [aa, aa]).


def bpe_words(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Occurrence-weighted word-frequency table: lowercase whitespace
    tokens restricted to ``^[a-z0-9]+$``. The ASCII restriction keeps
    char-level symbolization engine-portable (Java splits strings by
    UTF-16 code unit, DuckDB by code point — they diverge on non-BMP
    text; on [a-z0-9] they are identical)."""
    return (
        df.select(F.explode(tokens_col(F.lower(F.col(text_col)))).alias("w"))
        .filter(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def bpe_merge_fold(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right application of one merge rule to a symbol
    array (see module comment for the fold-equals-greedy argument)."""
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), s)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_pair_counts(symbolized: DataFrame) -> DataFrame:
    """(l, r, c): adjacent-pair counts over a (syms array<string>,
    cnt long) frame, weighted by cnt. Overlapping occurrences all
    count ("aaa" contributes (a,a) twice), the standard BPE statistic.
    ``syms`` must be a REAL column (HOF-lambda staging rule)."""
    st = symbolized.filter(F.size("syms") >= 2)
    pairs = st.select(
        "cnt",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("syms"), i.cast("int")).alias("l"),
                    F.element_at(F.col("syms"), (i + 1).cast("int")).alias("r"),
                ),
            )
        ).alias("pr"),
    ).select("cnt", "pr.l", "pr.r")
    return pairs.groupBy("l", "r").agg(F.sum("cnt").alias("c"))


def bpe_train(
    words: DataFrame, n_merges: int
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Train ``n_merges`` BPE merges over a (w, cnt) word table.

    Returns (merges, final_symbolized) where merges is
    [(left, right, pair_count)] in learned order and final_symbolized
    is the persisted (cnt, syms) frame after all merges (caller
    unpersists). Ties broken (count desc, left asc, right asc) so the
    learned sequence is deterministic and engine-portable. Each
    iteration persists its re-symbolized vocabulary and unpersists the
    previous one — the lineage never chains more than one fold deep,
    so iteration N plans O(1) work, not O(N)."""
    cur = words.select("cnt", F.split("w", "").alias("syms")).persist()
    merges: list[tuple[str, str, int]] = []
    # (r16) deferred-unpersist instead of a count() job per merge: each
    # iteration's pair-count collect is the job that materializes the
    # CURRENT symbolization's cache; the parent stays persisted until
    # then, so lineage still never chains more than one fold deep and
    # n_merges materialization jobs disappear (guide §1.2).
    prev = None
    try:
        for _ in range(n_merges):
            best = (
                bpe_pair_counts(cur)
                .orderBy(F.desc("c"), "l", "r")
                .limit(1)
                .collect()
            )
            if prev is not None:
                prev.unpersist()
                prev = None
            if not best:
                break
            left, right, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
            merges.append((left, right, c))
            nxt = cur.select(
                "cnt", bpe_merge_fold(F.col("syms"), left, right).alias("syms")
            ).persist()
            prev, cur = cur, nxt
        if prev is not None:
            # the final symbolization was never the source of a collect —
            # materialize it before releasing its parent so the returned
            # frame reads from its own cache, not a recompute chain
            cur.count()
    except BaseException:
        cur.unpersist()  # the caller never receives it
        raise
    finally:
        if prev is not None:
            prev.unpersist()
    return merges, cur


def save_bpe(spark, merges: list[tuple[str, str, int]], path: str) -> None:
    """Persist learned merges (rank order) as a self-describing JSON
    artifact — the tokenizer the training run hands to every
    downstream encode job."""
    spark.createDataFrame(
        [(i, l, r, int(c)) for i, (l, r, c) in enumerate(merges)],
        schema="rank int, left string, right string, pair_count long",
    ).coalesce(1).write.mode("overwrite").json(path)


def load_bpe(spark, path: str) -> list[tuple[str, str, int]]:
    rows = sorted(spark.read.json(path).collect(), key=lambda r: r["rank"])
    return [(r["left"], r["right"], int(r["pair_count"])) for r in rows]


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode documents with a trained merge list -> (id, tokens).

    The EXPRESSION fold (bpe_merge_fold) is right for training, where
    each iteration applies ONE rule to the vocabulary; encoding with a
    realistic vocabulary (10k-100k merges) would nest 10k folds in one
    expression tree. The scale path is an Arrow-batched pandas UDF
    running the classic rank-priority merge loop per word, with a
    per-batch word cache (Zipf: a batch's distinct words are a small
    fraction of its tokens). Semantics are IDENTICAL to applying
    bpe_merge_fold rule-by-rule in rank order — each rule merges
    greedily left-to-right before the next rank applies — which the
    tests pin by equivalence on random corpora.
    """
    @F.pandas_udf("array<string>")
    def encode(texts: pd.Series) -> pd.Series:
        import re

        # mirror the JVM tokenizer exactly: Java's \s (no unicode
        # classes), then the same ascii-alnum word filter as bpe_words
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        word_ok = re.compile(r"^[a-z0-9]+$")
        cache: dict[str, list[str]] = {}

        def enc_word(w: str) -> list[str]:
            got = cache.get(w)
            if got is not None:
                return got
            syms = list(w)
            # apply rules in RANK order; each rule = one greedy pass
            # (identical to bpe_merge_fold applied per rank)
            for l, r, _ in merges:
                if len(syms) < 2:
                    break
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            cache[w] = syms
            return syms

        def enc_doc(t: str) -> list[str]:
            toks: list[str] = []
            for w in ws.split((t or "").lower()):
                if w and word_ok.match(w):
                    toks.extend(enc_word(w))
            return toks

        return pd.Series([enc_doc(t) for t in texts])

    return df.select(F.col(id_col), encode(F.col(text_col)).alias("tokens"))
