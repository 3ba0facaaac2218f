"""Text-analysis operators for training-data pipelines.

All pure column expressions (JVM-side, whole-stage codegen — no Python
in the hot path): language-ID by stopword-hit heuristic, quality
scoring, token counting, document fingerprinting.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

# Per-language stopword/function-word probes. Space-padded probes are
# whole words, scored by membership of the space-split tokens (one
# shared tokenize pass); bare probes (CJK — no word spacing in those
# scripts) score by substring occurrences. The argmax is a standard
# stopword-profile language identifier. 26 languages; ties broken by
# language-code order, all-zero → 'und'. Every probe is a plain string,
# so the identical formula is expressible in any SQL dialect (the
# CORRECTNESS oracle is generated from this dict — keep them literal).
LANG_PROBES = {
    "en": [" the ", " and ", " of ", " to ", " in ", " is "],
    "de": [" der ", " und ", " die ", " das ", " nicht ", " ist "],
    "fr": [" le ", " et ", " les ", " des ", " est ", " dans "],
    "es": [" el ", " que ", " los ", " las ", " por ", " una "],
    "pt": [" não ", " uma ", " com ", " para ", " são ", " dos "],
    "it": [" che ", " per ", " della ", " gli ", " sono ", " nel "],
    "nl": [" het ", " een ", " niet ", " van ", " zijn ", " voor "],
    "sv": [" och ", " att ", " det ", " som ", " för ", " är "],
    "da": [" og ", " det ", " til ", " ikke ", " på ", " med "],
    "no": [" og ", " det ", " ikke ", " på ", " til ", " av "],
    "fi": [" ja ", " on ", " ei ", " että ", " oli ", " mutta "],
    "pl": [" nie ", " się ", " jest ", " oraz ", " przez ", " tym "],
    "cs": [" není ", " jsou ", " ale ", " jako ", " podle ", " však "],
    "ro": [" și ", " este ", " din ", " care ", " pentru ", " sunt "],
    "hu": [" és ", " nem ", " hogy ", " egy ", " van ", " mint "],
    "tr": [" bir ", " ve ", " için ", " ile ", " olarak ", " değil "],
    "id": [" yang ", " dan ", " untuk ", " dengan ", " tidak ", " dari "],
    "vi": [" của ", " và ", " không ", " được ", " trong ", " người "],
    "ru": [" и ", " не ", " что ", " это ", " как ", " для "],
    "uk": [" і ", " не ", " що ", " для ", " але ", " або "],
    "ar": [" في ", " من ", " على ", " إلى ", " هذا ", " التي "],
    "hi": [" है ", " और ", " के ", " में ", " की ", " का "],
    "ja": ["の", "に", "は", "を", "です", "した"],
    "zh": ["的", "是", "了", "在", "我们", "这个"],
    "ko": ["의", "에서", "입니다", "그리고", "하는", "있는"],
    "el": [" και ", " του ", " της ", " είναι ", " από ", " για "],
}


def occurrences(col: Column, needle: str) -> Column:
    """Count of non-overlapping substring occurrences — expressible in
    any SQL dialect as (len(x) - len(replace(x, n, ''))) / len(n)."""
    return ((F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
            / F.lit(len(needle))).cast("long")


def doc_stats(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Per-document quality metrics: char count, whitespace-token count,
    mean token length (the exact output schema: n_chars_actual,
    n_tokens, mean_token_len)."""
    t = F.col(text_col)
    n_tokens = F.size(F.split(t, " "))
    return docs.select(
        id_col,
        F.length(t).alias("n_chars_actual"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(F.length(F.replace(t, F.lit(" "), F.lit(""))) /
                n_tokens, 4).alias("mean_token_len"),
    )


def lang_id(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: argmax of stopword-probe hit counts, 'und'
    (undetermined) when all probes miss. Deterministic tie-break by
    language code order.

    Plan shape: word probes score via explode → broadcast probe-table
    join → pivot count. The aggregation is a hard optimizer boundary,
    so the 27 score columns reach the argmax when-chain as plain
    attributes — expression formulations (one filter/aggregate per
    language over a shared token array) get re-inlined by
    CollapseProject into every one of the ~3×27 references the argmax
    makes, and higher-order lambdas are neither codegen'd nor
    subexpression-eliminated (measured 10-100× blowup at 26 languages).
    The shuffle is (id, lang, partial count) rows, map-side combined —
    at most #langs rows per doc. CJK probes (bare substrings, no word
    boundaries) stay as occurrence expressions: 18 probes over 3
    score columns is within the cheap zone."""
    spark = docs.sparkSession
    langs = sorted(LANG_PROBES)
    lt = F.lower(F.col(text_col))
    word_rows = [(p.strip(), lang) for lang, probes in LANG_PROBES.items()
                 for p in probes if p.startswith(" ")]
    probe_df = local_frame(spark, word_rows, "tok string, lang string")
    toks = docs.select(id_col, F.explode(F.split(lt, " ")).alias("tok"))
    hits = (toks.join(F.broadcast(probe_df), "tok")
            .groupBy(id_col).pivot("lang", langs)
            .agg(F.count(F.lit(1))))
    # CJK substring scores are computed BEFORE the join: the join is an
    # optimizer boundary, so the argmax below sees them as attributes —
    # computed after the join they'd be re-inlined into all ~27 CASE
    # branches (hundreds of interpreted string scans per row)
    cjk_cols = []
    for lang in langs:
        subs = [p for p in LANG_PROBES[lang] if not p.startswith(" ")]
        if subs:
            sc = sum((occurrences(lt, p) for p in subs),
                     F.lit(0).cast("long"))
            cjk_cols.append(sc.alias(f"_sub_{lang}"))
    base = docs.select(id_col, F.col(text_col).isNull().alias("_nt"),
                       *cjk_cols).join(hits, id_col, "left")
    sub_langs = {lang for lang in langs
                 if any(not p.startswith(" ") for p in LANG_PROBES[lang])}
    scores: dict[str, Column] = {}
    for lang in langs:
        sc = F.coalesce(F.col(f"`{lang}`"), F.lit(0)).cast("long")
        if lang in sub_langs:
            sc = sc + F.col(f"_sub_{lang}")
        # NULL text → NULL scores (matching the SQL oracle, where every
        # probe expression over NULL is NULL) — without this the word
        # scores would coalesce to 0 while the oracle's stay NULL
        scores[lang] = F.when(F.col("_nt"), F.lit(None).cast("long"))                         .otherwise(sc)
    # array argmax, not a 27-branch when-chain: the chain repeats the
    # 27-term greatest() per branch — a ~27x bigger expression tree that
    # cost seconds of Catalyst planning + codegen compile per query.
    # array_position takes the FIRST maximum = language-code order, the
    # same deterministic tie-break the chain encoded.
    score_arr = F.array(*[scores[la] for la in langs])
    best = F.array_max(score_arr)
    pred = F.when(F.col("_nt") | (best == F.lit(0).cast("long")),
                  F.lit("und")).otherwise(
        F.element_at(F.array(*[F.lit(la) for la in langs]),
                     F.array_position(score_arr, best).cast("int")))
    sel = [F.col(id_col), pred.alias("lang_pred")]
    sel += [scores[lang].alias(f"score_{lang}") for lang in langs]
    return base.select(*sel)


# simplified GPT-2-style token classes: letter runs, digit runs,
# punctuation runs (whitespace separates, contributes no token)
# whitespace spelled out: Java \s is ASCII-only, Python \s is
# Unicode-aware, RE2 \s lacks \x0B — the explicit class means all
# three engines (Spark, the pure-Python BPE kernels, DuckDB oracles)
# pre-tokenize identically even on exotic whitespace
BPE_ISH_PATTERN = (r"[a-zA-Z]+|[0-9]+"
                   r"|[^a-zA-Z0-9 \t\n\r\f\x0B]+")


def token_count_bpe(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """BPE-ish token counting via a single vectorized regex — the cheap
    proxy for tokenizer-cost estimation over a training corpus."""
    return docs.select(
        id_col,
        F.regexp_count(F.col(text_col), F.lit(BPE_ISH_PATTERN))
         .cast("long").alias("n_bpe_tokens"))


def quality_score(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Composite quality score in [0,1]: length saturation, alphanumeric
    cleanliness, stopword presence. Every term is a plain column
    expression with an exact SQL equivalent."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = F.size(F.split(t, " ")).cast("double")
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    non_alnum = F.length(F.regexp_replace(t, r"[a-z0-9 ]", ""))
    # try_divide + coalesce: an EMPTY document (n_chars = 0, common in
    # web scrapes) must score clean = 0, not throw — the session runs
    # ANSI mode, where a plain double division by zero FAILS the whole
    # job (review finding, verified). The SQL oracle mirrors the
    # zero-chars case explicitly.
    clean_score = F.coalesce(
        F.lit(1.0) - F.try_divide(non_alnum, n_chars.cast("double")),
        F.lit(0.0))
    padded = F.concat(F.lit(" "), F.lower(t), F.lit(" "))
    stop_hits = sum((occurrences(padded, f" {w} ")
                     for w in ("the", "a", "and", "of")),
                    F.lit(0).cast("long"))
    stop_score = F.least(stop_hits / n_tokens * 5.0, F.lit(1.0))
    q = 0.4 * len_score + 0.3 * clean_score + 0.3 * stop_score
    # no explicit rounding: the expression is the same IEEE op sequence as
    # the SQL oracle, so raw doubles already agree bit-for-bit
    return docs.select(id_col, q.alias("quality"))


def fingerprint(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Whitespace-normalized lowercase MD5 fingerprint — the exact-dedup
    key that survives formatting noise."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return docs.select(id_col, F.md5(norm).alias("fp"))


def corpus_profile(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Corpus-level profile per predicted language: doc count, total/
    mean BPE-ish token counts, and EXACT p50/p95 token-count percentiles
    (``percentile``, not approx — the profile is the go/no-go artifact
    for a training run, and the group count is tiny so exact sort-based
    percentiles are cheap; swap to ``percentile_approx`` only if groups
    reach billions of rows). Every aggregate derives from integer sums,
    so results are deterministic under any task order."""
    lang = lang_id(docs, text_col, id_col).select(id_col, "lang_pred")
    toks = token_count_bpe(docs, text_col, id_col)
    j = lang.join(toks, id_col)
    return (j.groupBy("lang_pred")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_bpe_tokens").cast("long").alias("total_tokens"),
                 F.round(F.sum("n_bpe_tokens")
                         / F.count(F.lit(1)), 6).alias("avg_tokens"),
                 F.percentile("n_bpe_tokens", 0.5).alias("p50_tokens"),
                 F.percentile("n_bpe_tokens", 0.95).alias("p95_tokens")))


def train_bpe(docs: DataFrame, text_col: str = "text",
              num_merges: int = 200,
              max_words: int = 1_000_000) -> list[tuple[str, str]]:
    """Train a BPE merge table in-engine (like ``train_ivf_centroids``
    trains its codebook): the corpus scan — word counting over the
    pre-tokenization regex — is fully distributed; the inherently
    sequential merge loop runs driver-side on the compact top-
    ``max_words`` word-frequency table (TakeOrderedAndProject → a few
    MB on the driver even from a 100 TB corpus). Deterministic: word
    order ties break lexicographically, merge ties break by
    (count DESC, pair ASC) inside ``bpe_train``."""
    from ..functions.bpe import bpe_train
    words = (docs.select(
        F.explode(F.regexp_extract_all(F.lower(F.col(text_col)),
                                       F.lit(BPE_ISH_PATTERN), 0))
        .alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("n")))
    top = words.orderBy(F.desc("n"), F.asc("w")).limit(max_words).collect()
    return bpe_train({r["w"]: int(r["n"]) for r in top}, num_merges)


def token_count_vocab(docs: DataFrame,
                      merges: list[tuple[str, str]] | list[list[str]],
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """True-BPE token counts under a trained merge table (vs the regex
    proxy ``token_count_bpe``). The merge ranks ship inside the UDF
    closure (broadcast once per executor); the Arrow-batched kernel
    memoizes encoded length per distinct word, so the merge replay runs
    once per word-form per batch, not per occurrence."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}

    @F.pandas_udf("long")
    def _count(s: pd.Series) -> pd.Series:
        from ..functions.bpe import encode_text_len
        cache: dict[str, int] = {}
        return s.map(lambda t: None if t is None
                     else encode_text_len(t, ranks, cache))

    return docs.select(id_col, _count(F.col(text_col))
                       .alias("n_vocab_tokens"))


# PII patterns: pragmatic training-data-redaction classes (emails,
# long digit runs standing in for phone/account numbers, IPv4). Kept
# simple & anchorless so the identical regex runs in any SQL dialect.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
    ("number", r"\b[0-9]{9,}\b"),
]


def redact_pii(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Replace PII-shaped spans with ``[TYPE]`` tokens and count the
    redactions per class — the standard pre-training scrub stage. One
    chained vectorized regexp_replace per class (JVM regex, no Python);
    counts come from regexp_count on the ORIGINAL text so classes
    never shadow each other's counts."""
    out = F.col(text_col)
    sel = [F.col(id_col)]
    for name, pat in PII_PATTERNS:
        sel.append(F.regexp_count(F.col(text_col), F.lit(pat))
                   .cast("long").alias(f"n_{name}"))
        out = F.regexp_replace(out, pat, f"[{name.upper()}]")
    return docs.select(*sel, out.alias("redacted"))


def doc_repetition(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals per document — the quality
    filters that catch boilerplate-heavy and degenerate pages:

    * ``dup_line_frac``  — 1 − distinct(trimmed lines)/lines;
    * ``dup_word_frac``  — 1 − distinct(words)/words;
    * ``top_word_frac``  — occurrences of the most frequent word /
      total words (a high value means a few tokens dominate).

    Line/word distincts are pure array expressions; the top-word count
    is an explode → two-level aggregate (per-(doc, word) count, then a
    per-doc max/sum) — partial aggregation keeps the shuffle at one row
    per distinct (doc, word), never a hot single reducer."""
    lines = F.transform(F.split(F.col(text_col), r"\n"), F.trim)
    # tokenize on WHITESPACE runs (filtering empty tokens), not single
    # spaces: words joined across newlines/tabs fused into one token,
    # systematically undercounting repetition in multiline pages —
    # 'buy now\nbuy now\nbuy now' measured dup_word_frac 0.25 where
    # the true word stream gives 0.667 (review finding)
    words = F.filter(F.split(F.col(text_col), r"\s+"),
                     lambda x: x != "")
    base = docs.select(
        F.col(id_col),
        (1.0 - F.size(F.array_distinct(lines))
         / F.size(lines).cast("double")).alias("dup_line_frac"),
        (1.0 - F.size(F.array_distinct(words))
         / F.size(words).cast("double")).alias("dup_word_frac"))
    per_word = (docs
                .select(F.col(id_col), F.explode(words).alias("word"))
                .groupBy(id_col, "word")
                .agg(F.count(F.lit(1)).alias("n")))
    top = (per_word.groupBy(id_col)
           .agg((F.max("n") / F.sum("n").cast("double"))
                .alias("top_word_frac")))
    # left join: a null-text doc has no exploded words — an inner join
    # would silently DROP it from the output (one row per input doc,
    # like doc_stats/lang_id)
    return base.join(top, id_col, "left")


def line_frequencies(docs: DataFrame, text_col: str = "text",
                     min_len: int = 10,
                     id_col: str = "doc_id") -> DataFrame:
    """(line_hash, n_docs) for every distinct normalized line — the
    corpus-wide frequency table behind boilerplate removal (CCNet-style:
    a line appearing in many documents is chrome, not content). Lines
    under ``min_len`` chars are ignored (punctuation rows, bullets).
    distinct() before the count so a line repeated inside ONE document
    counts once."""
    lines = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), r"\n")).alias("line"))
    norm = F.trim(F.col("line"))
    return (lines.select(id_col, F.md5(norm).alias("line_hash"))
            .where(F.length(norm) >= min_len)
            .distinct()
            .groupBy("line_hash")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))


def strip_boilerplate(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", max_docs: int = 10,
                      min_len: int = 10,
                      broadcast_max_rows: int = 1_000_000) -> DataFrame:
    """Remove lines appearing in more than ``max_docs`` documents
    (navigation chrome, cookie banners, license headers) and keep the
    rest in order. Two passes over the corpus: the frequency table and
    the filtered reassembly via posexplode + sort by position.

    The anti-join against the boilerplate table is size-adaptive (the
    ``link_triples`` pattern): the table is lineage-cut once (so the
    join reuses that computation of the corpus-wide aggregate), and the
    row count observed on the cut decides — broadcast under
    ``broadcast_max_rows``, plain shuffled left-anti above it (AQE picks
    the physical join). Web boilerplate is heavy-tailed: at 100 TB the
    >``max_docs`` line set is NOT reliably tiny, and an unconditional
    broadcast would OOM the driver. ``broadcast_max_rows=0`` forces the
    shuffled path (skips the materialization entirely)."""
    from ..session import observed_cut
    freq = line_frequencies(docs, text_col, min_len, id_col)
    boiler = freq.where(F.col("n_docs") > max_docs).select("line_hash")
    small = False
    if broadcast_max_rows:
        boiler, n = observed_cut(boiler, F.count(F.lit(1)))
        small = n <= broadcast_max_rows
    hint = F.broadcast if small else (lambda df: df)
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("pos", "line"))
    keep = (lines.withColumn("line_hash", F.md5(F.trim(F.col("line"))))
            .join(hint(boiler), "line_hash", "left_anti"))
    cleaned = (keep.groupBy(id_col)
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(F.struct("pos",
                                                            "line"))),
                       lambda s: s["line"]),
                   "\n").alias("clean_text"),
                    F.count(F.lit(1)).cast("long")
                    .alias("n_lines_kept")))
    # LEFT join back to the input doc set: a document whose EVERY
    # line is boilerplate (or whose text is null) must come back with
    # an empty clean_text, not silently vanish from the output — the
    # same silent-loss class the materialize read paths were fixed
    # for (one row per input doc, like doc_stats)
    return (docs.select(id_col).distinct()
            .join(cleaned, id_col, "left")
            .select(id_col,
                    F.coalesce("clean_text", F.lit(""))
                    .alias("clean_text"),
                    F.coalesce("n_lines_kept", F.lit(0).cast("long"))
                    .alias("n_lines_kept")))
