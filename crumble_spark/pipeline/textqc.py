"""Text analysis: language-ID heuristic, quality scoring, token counting,
document fingerprinting.  All pure Catalyst expressions (no Python UDFs);
float-derived outputs are floor-scaled to integers (e6) so engines with
different ROUND modes still compare bit-equal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import shared
from .tokenize import documents

# most-frequent corpus words act as the "stopword" profile; real language
# profiles plug in the same way (one list per language)
STOP_EN = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "data")
MARKER_QUERY = ("join", "hash", "scan", "filter", "merge", "query", "index")

# per-language frequency profiles: the highest-frequency function words of
# each language (public-knowledge stopword lists).  The operator is the
# real langid shape — per-profile hit ratio over the doc's words, argmax
# with a deterministic tie-break — with profiles swappable per deployment.
LANG_PROFILES = {
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "ein",
           "eine", "nicht", "sich", "auf", "für", "auch", "werden", "dem", "zu"),
    "en": ("the", "of", "and", "to", "in", "is", "it", "for", "on", "with",
           "as", "at", "by", "that", "this", "was", "are", "be"),
    "es": ("el", "los", "las", "de", "y", "en", "que", "un", "una", "es",
           "del", "por", "con", "para", "no", "se", "su", "más"),
    "fr": ("le", "les", "des", "du", "et", "est", "dans", "pour", "sur",
           "une", "pas", "qui", "au", "plus", "ce", "vous", "ne", "je"),
}
LANG_MIN_SCORE = 0.02  # below this, predict "unk"


def _stop_ratio(ws, stoplist):
    hits = F.size(F.filter(ws, lambda w: w.isin(*stoplist)))
    return hits / F.greatest(F.size(ws), F.lit(1))


def _with_words(d: DataFrame) -> DataFrame:
    """(doc_id, text, ws) staging projection (r8, guide §1.2).

    CollapseProject refuses to inline a non-cheap alias that the outer
    projection references more than once, so splitting the words array
    into its own Project makes the whitespace split run ONCE per row —
    the r7 plans spelled `split(coalesce(text,...))` out per consumer
    expression (53 copies in the curation-funnel projection).  Score
    values are bit-identical: the consumers' expressions are unchanged,
    they just read the materialized `ws` attribute."""
    return d.select("doc_id", "text", shared.words(F.col("text")).alias("ws"))


def _stop_ratio_sql(ws_sql: str, stoplist) -> str:
    lst = ", ".join(f"'{w}'" for w in stoplist)
    return (
        f"len(list_filter({ws_sql}, w -> w IN ({lst}))) * 1.0 / greatest(len({ws_sql}), 1)"
    )


def quality_feature_exprs(text: F.Column, ws: F.Column) -> dict:
    """Raw quality FEATURE expressions over (text, words) columns — the
    per-row inputs the composite score is assembled from.  Staged
    consumers materialize these as columns first (one evaluation each)
    and build the score with quality_score_expr over the attributes;
    values are bit-identical to the r7 inline spelling (same
    expressions, same double math, same fold order)."""
    n_words = F.size(ws)
    letters = F.length(F.regexp_replace(text, " ", ""))
    mean_wl = letters / F.greatest(n_words, F.lit(1))
    stop = _stop_ratio(ws, STOP_EN)
    return {"n_words": n_words, "mean_wl": mean_wl, "stop": stop}


def quality_score_expr(n_words: F.Column, mean_wl: F.Column, stop: F.Column) -> F.Column:
    """Composite score from (already-evaluated) feature columns."""
    return (
        F.least(F.lit(1.0), n_words / F.lit(80.0)) * 0.4
        + F.least(stop * 4, F.lit(1.0)) * 0.4
        + F.when((mean_wl >= 3.0) & (mean_wl <= 8.0), F.lit(0.2)).otherwise(F.lit(0.0))
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/stopword/mean-word-length quality features + composite score.

    score = 0.4*min(1, n_words/80) + 0.4*stop_ratio*4 (capped at 0.4)
          + 0.2*(mean_word_len between 3 and 8)

    r8 staging: words, then the three raw features, each materialize in
    their own projection (see _with_words) — the r7 inline plan
    re-spelled the split and each feature per consumer expression."""
    w = _with_words(documents(spark, sf_dir))
    e = quality_feature_exprs(F.col("text"), F.col("ws"))
    f = w.select(
        "doc_id",
        e["n_words"].alias("_nw"),
        e["mean_wl"].alias("_mwl"),
        e["stop"].alias("_stop"),
    )
    score = quality_score_expr(F.col("_nw"), F.col("_mwl"), F.col("_stop"))
    return f.select(
        "doc_id",
        F.col("_nw").cast("int").alias("n_words"),
        F.floor(F.col("_mwl") * 1_000_000).cast("long").alias("mean_wl_e6"),
        F.floor(F.col("_stop") * 1_000_000).cast("long").alias("stop_ratio_e6"),
        F.floor(score * 1_000_000).cast("long").alias("quality_e6"),
    )


def _q_text_quality_sql() -> str:
    ws = shared.WORDS_SQL.format(c="text")
    stop = _stop_ratio_sql("ws", STOP_EN)
    return (
        f"WITH w AS (SELECT doc_id, text, {ws} AS ws FROM documents), "
        "f AS (SELECT doc_id, len(ws) AS n_words, "
        "length(replace(text, ' ', '')) * 1.0 / greatest(len(ws), 1) AS mean_wl, "
        f"{stop} AS stop FROM w) "
        "SELECT doc_id, CAST(n_words AS INTEGER) AS n_words, "
        "CAST(floor(mean_wl * 1000000) AS BIGINT) AS mean_wl_e6, "
        "CAST(floor(stop * 1000000) AS BIGINT) AS stop_ratio_e6, "
        "CAST(floor(("
        "least(1.0, n_words / 80.0) * 0.4 + least(stop * 4, 1.0) * 0.4 "
        "+ (CASE WHEN mean_wl >= 3.0 AND mean_wl <= 8.0 THEN 0.2 ELSE 0.0 END)"
        ") * 1000000) AS BIGINT) AS quality_e6 FROM f"
    )


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language/domain ID with deterministic argmax tie-break.
    (On this synthetic corpus the 'languages' are vocabulary profiles; the
    operator shape — per-profile hit ratio → argmax — is the real thing.)"""
    w = _with_words(documents(spark, sf_dir))
    s = w.select(
        "doc_id",
        _stop_ratio(F.col("ws"), STOP_EN).alias("_en"),
        _stop_ratio(F.col("ws"), MARKER_QUERY).alias("_qy"),
    )
    en, qy = F.col("_en"), F.col("_qy")
    pred = (
        F.when((en >= qy) & (en >= 0.05), F.lit("en"))
        .when(qy > en, F.lit("qry"))
        .otherwise(F.lit("unk"))
    )
    return s.select(
        "doc_id",
        F.floor(en * 1_000_000).cast("long").alias("en_score_e6"),
        F.floor(qy * 1_000_000).cast("long").alias("qry_score_e6"),
        pred.alias("lang_pred"),
    )


def _q_langid_sql() -> str:
    ws = shared.WORDS_SQL.format(c="text")
    en = _stop_ratio_sql("ws", STOP_EN)
    qy = _stop_ratio_sql("ws", MARKER_QUERY)
    return (
        f"WITH w AS (SELECT doc_id, {ws} AS ws FROM documents), "
        f"s AS (SELECT doc_id, {en} AS en, {qy} AS qy FROM w) "
        "SELECT doc_id, CAST(floor(en * 1000000) AS BIGINT) AS en_score_e6, "
        "CAST(floor(qy * 1000000) AS BIGINT) AS qry_score_e6, "
        "CASE WHEN en >= qy AND en >= 0.05 THEN 'en' "
        "WHEN qy > en THEN 'qry' ELSE 'unk' END AS lang_pred FROM s"
    )


def profile_score_exprs(ws: F.Column) -> dict:
    """{lang: raw hit-ratio score} over a words column."""
    return {
        lang: _stop_ratio(ws, LANG_PROFILES[lang]) for lang in sorted(LANG_PROFILES)
    }


def langid_pred_expr(score_cols: dict) -> F.Column:
    """argmax-with-alphabetical-tie-break prediction from
    (already-evaluated) per-language score columns."""
    langs = sorted(LANG_PROFILES)
    mx = F.greatest(*[score_cols[lang] for lang in langs])
    pick = F.lit("unk")
    for lang in reversed(langs):  # alphabetical-first wins ties
        pick = F.when(score_cols[lang] == mx, F.lit(lang)).otherwise(pick)
    return F.when(mx < LANG_MIN_SCORE, F.lit("unk")).otherwise(pick)


def q_langid_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-language ID over per-language frequency profiles: score each
    profile as the doc's hit ratio against that language's function words,
    argmax with an alphabetical tie-break, 'unk' below LANG_MIN_SCORE.
    Pure Catalyst (one pass over the words array per profile), so the
    whole classifier is a projection — no shuffle, no UDF.

    r8 staging: the split and then each profile score materialize once
    (own projections); the r7 inline plan re-evaluated every score ~3x
    (output column + greatest + tie chain), each dragging its own copy
    of the split."""
    w = _with_words(documents(spark, sf_dir))
    raw = profile_score_exprs(F.col("ws"))
    langs = sorted(LANG_PROFILES)
    s = w.select("doc_id", *[raw[lang].alias(f"_sc_{lang}") for lang in langs])
    cols = {lang: F.col(f"_sc_{lang}") for lang in langs}
    out = [
        F.floor(cols[lang] * 1_000_000).cast("long").alias(f"{lang}_score_e6")
        for lang in langs
    ]
    return s.select("doc_id", *out, langid_pred_expr(cols).alias("lang_pred"))


def _q_langid_profiles_sql() -> str:
    ws = shared.WORDS_SQL.format(c="text")
    langs = sorted(LANG_PROFILES)
    ratios = ", ".join(
        f"{_stop_ratio_sql('ws', LANG_PROFILES[lang])} AS {lang}" for lang in langs
    )
    mx = "greatest(" + ", ".join(langs) + ")"
    tie = " ".join(f"WHEN {lang} = mx THEN '{lang}'" for lang in langs)
    score_cols = ", ".join(
        f"CAST(floor({lang} * 1000000) AS BIGINT) AS {lang}_score_e6" for lang in langs
    )
    return (
        f"WITH w AS (SELECT doc_id, {ws} AS ws FROM documents), "
        f"s AS (SELECT doc_id, {ratios} FROM w), "
        f"m AS (SELECT *, {mx} AS mx FROM s) "
        f"SELECT doc_id, {score_cols}, "
        f"CASE WHEN mx < {LANG_MIN_SCORE} THEN 'unk' {tie} ELSE 'unk' END AS lang_pred "
        "FROM m"
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish subword estimate (ceil(len/4) per
    word — a fixed-fanout stand-in for a merge-table tokenizer)."""
    w = _with_words(documents(spark, sf_dir))
    ws = F.col("ws")
    bpe = F.aggregate(
        ws,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.floor((F.length(w) + 3) / F.lit(4.0)).cast("long"),
    )
    return w.select(
        "doc_id",
        F.size(ws).cast("int").alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
    )


def _q_token_count_sql() -> str:
    ws = shared.WORDS_SQL.format(c="text")
    return (
        f"WITH w AS (SELECT doc_id, {ws} AS ws FROM documents) "
        "SELECT doc_id, CAST(len(ws) AS INTEGER) AS n_ws_tokens, "
        "CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(ws, w -> CAST(floor((length(w) + 3) / 4.0) AS BIGINT))), "
        "(a, b) -> a + b) AS BIGINT) AS n_bpe_tokens FROM w"
    )


def q_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-tokenizer counts: word runs and punctuation both count (the
    GPT-2-style pretokenizer split, reduced to its countable core).
    regexp_count stays JVM-side — no UDF for a per-doc scalar."""
    d = documents(spark, sf_dir)
    words_n = F.regexp_count(F.col("text"), F.lit(r"[A-Za-z0-9_]+"))
    # explicit whitespace class, NOT \s: Java regex and DuckDB's RE2
    # disagree on \s membership (U+000B, Unicode spaces), so the oracle
    # parity would silently depend on the corpus otherwise
    punct_n = F.regexp_count(F.col("text"), F.lit(r"[^A-Za-z0-9_ \t\n\r\f\x0b]"))
    return d.select(
        "doc_id",
        words_n.cast("int").alias("n_word_tokens"),
        punct_n.cast("int").alias("n_punct_tokens"),
        (words_n + punct_n).cast("int").alias("n_regex_tokens"),
    )


_Q_TOKEN_COUNT_REGEX_SQL = (
    "SELECT doc_id, "
    "CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS INTEGER) AS n_word_tokens, "
    "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9_ \\t\\n\\r\\f\\x0b]')) AS INTEGER) AS n_punct_tokens, "
    "CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+')) "
    "+ len(regexp_extract_all(text, '[^A-Za-z0-9_ \\t\\n\\r\\f\\x0b]')) AS INTEGER) AS n_regex_tokens "
    "FROM documents"
)


VOCAB_TOP_K = 50


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token frequency top-k (the vocabulary census every
    training-data pipeline runs).  Plan: explode → map-side-combinable
    groupBy(token) → orderBy().limit() = TakeOrderedAndProject, so the
    full frequency table never converges on one task."""
    d = documents(spark, sf_dir)
    toks = shared.tokens_col(F.col("text"))
    counts = (
        d.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    top = counts.orderBy(F.desc("freq"), F.asc("token")).limit(VOCAB_TOP_K)
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "token", "freq", F.col("rank").cast("int").alias("rank")
    )


def _q_vocab_topk_sql() -> str:
    toks = shared.TOKENS_SQL.format(c="text")
    return (
        f"WITH t AS (SELECT unnest({toks}) AS token FROM documents), "
        "c AS (SELECT token, count(*) AS freq FROM t GROUP BY token) "
        "SELECT token, freq, CAST(row_number() OVER "
        "(ORDER BY freq DESC, token ASC) AS INTEGER) AS rank "
        f"FROM c ORDER BY freq DESC, token ASC LIMIT {VOCAB_TOP_K}"
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash over the token stream (order-sensitive doc
    fingerprint; crumble's whole-record checksum discipline analogue)."""
    d = documents(spark, sf_dir)
    toks = shared.tokens_col(F.col("text"))
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * shared.FP_MUL + t) % shared.FP_MOD,
    )
    return d.select("doc_id", fp.alias("fingerprint"))


def _q_fingerprint_sql() -> str:
    toks = shared.TOKENS_SQL.format(c="text")
    return (
        f"WITH t AS (SELECT doc_id, {toks} AS toks FROM documents) "
        "SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(toks, x -> CAST(x AS BIGINT))), "
        f"(a, b) -> (a * {shared.FP_MUL} + b) % {shared.FP_MOD}) AS fingerprint FROM t"
    )


QUERIES = {
    "text_quality": q_text_quality,
    "text_langid": q_langid,
    "text_langid_profiles": q_langid_profiles,
    "text_token_count": q_token_count,
    "text_token_count_regex": q_token_count_regex,
    "text_fingerprint": q_fingerprint,
    "text_vocab_topk": q_vocab_topk,
}

ORACLES = {
    "text_vocab_topk": _q_vocab_topk_sql(),
    "text_token_count_regex": _Q_TOKEN_COUNT_REGEX_SQL,
    "text_quality": _q_text_quality_sql(),
    "text_langid": _q_langid_sql(),
    "text_langid_profiles": _q_langid_profiles_sql(),
    "text_token_count": _q_token_count_sql(),
    "text_fingerprint": _q_fingerprint_sql(),
}
