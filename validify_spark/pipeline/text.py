"""Text-analysis operators: token counting, quality scoring, language
ID, document fingerprinting, PII redaction. Pure Column expressions
(JVM codegen; zero Python on the row path) so they run at corpus scale
and are exactly reproducible in an external SQL oracle — except
``compression_ratio`` and the optional model plug-ins, which are
Arrow-batched pandas UDFs (the documented slow-path tier; zlib and
learned models have no SQL analog).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

# small built-in stopword marker sets for the language-ID heuristic —
# high-frequency function words per language (public knowledge)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it",
           "for", "was", "with", "as", "on", "be"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine",
           "mit", "von", "zu", "den", "im", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "du",
           "pour", "dans", "que", "qui", "pas", "sur"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "de",
           "en", "que", "por", "para", "con", "no"],
}


def _words(text_col: Column) -> Column:
    w = F.split(F.lower(F.trim(text_col)), r"\s+")
    return F.filter(w, lambda x: x != "")


def word_shingles_expr(text_col: Column, n: int) -> Column:
    """Overlapping word ``n``-gram shingles of whitespace-normalized,
    lowercased text, as ``array<string>`` (with duplicates — callers
    apply ``array_distinct`` / per-shingle hashing as needed).

    THE shared shingle tokenization: decontaminate, word_shingles
    (jaccard/MinHash), and fingerprint all call this one expression,
    so their shingle universes stay byte-identical — a tokenization
    change here moves every consumer together, never desynchronizing
    dedup fingerprints from decontamination shingles.

    Implementation: ONE anchored-lookahead ``regexp_extract_all`` —
    ``(?<![^ ])`` anchors each overlapping match at a word start, the
    zero-width lookahead captures without consuming. Stays inside
    whole-stage codegen; the obvious
    ``transform(sequence, i -> concat_ws(slice(words, i, n)))``
    builds the identical set ~14x slower (higher-order-function
    lambdas are interpreted per element). Texts with < n words never
    match ⇒ empty array."""
    norm = F.regexp_replace(F.lower(F.trim(text_col)), r"\s+", " ")
    pat = r"(?<![^ ])(?=((?:[^ ]+ ){%d}[^ ]+))" % (n - 1)
    return F.regexp_extract_all(norm, F.lit(pat), F.lit(1))


def token_stats(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish subword proxy count (runs of
    letters / digits / single punctuation, ~the pre-tokenizer used by
    byte-level BPE vocabularies).

    Output: id, n_chars, n_tokens, n_subword_units, n_distinct_tokens,
    avg_token_len."""
    t = F.col(text_col)
    words = _words(t)
    bpe_ish = F.filter(
        F.split(t, r"(?<=\W)|(?=\W)"),  # split at word/non-word edges
        lambda x: (x != "") & (x != " "))
    return df.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        F.size(words).alias("n_tokens"),
        F.size(bpe_ish).alias("n_subword_units"),
        F.size(F.array_distinct(words)).alias("n_distinct_tokens"),
        F.round(
            F.when(F.size(words) > 0,
                   F.aggregate(words, F.lit(0),
                               lambda acc, x: acc + F.length(x))
                   / F.size(words)).otherwise(0.0), 6)
         .alias("avg_token_len"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  stopwords: list | None = None,
                  model_score=None) -> DataFrame:
    """Heuristic document-quality components + composite score in [0,1]
    (length band, alpha ratio, punctuation ratio, stopword ratio,
    repetition) — the usual pretraining-corpus filters.

    ``model_score`` is the production plug-in seam: a Column-builder
    (an Arrow ``pandas_udf`` wrapping e.g. a perplexity filter or
    learned quality model — the phone-validator pattern) mapping the
    text Column to a double Column in [0,1]; when given it REPLACES the
    composite ``quality`` column while the cheap SQL component columns
    remain for debugging/ablation.

    Output: id, n_chars, alpha_ratio, punct_ratio, stopword_ratio,
    repetition_ratio, quality."""
    sw = stopwords or LANG_MARKERS["en"]
    t = F.col(text_col)
    n = F.greatest(F.length(t), F.lit(1))
    words = _words(t)
    n_words = F.greatest(F.size(words), F.lit(1))

    alpha_ratio = F.length(F.regexp_replace(t, r"[^\p{L}]", "")) / n
    punct_ratio = F.length(
        F.regexp_replace(t, r"[^.,;:!?'\"()\[\]{}-]", "")) / n
    sw_arr = F.array(*[F.lit(w) for w in sw])
    stopword_ratio = (F.size(F.filter(
        words, lambda x: F.array_contains(sw_arr, x))) / n_words)
    repetition_ratio = (F.lit(1.0)
                        - F.size(F.array_distinct(words)) / n_words)

    length_ok = F.when((F.length(t) >= 50) & (F.length(t) <= 100000),
                       F.lit(1.0)).otherwise(F.lit(0.0))
    if model_score is not None:
        quality = model_score(t)
    else:
        quality = (0.3 * length_ok
                   + 0.3 * alpha_ratio
                   + 0.2 * F.least(stopword_ratio * 4, F.lit(1.0))
                   + 0.2 * (1.0 - repetition_ratio))
    return df.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stopword_ratio, 6).alias("stopword_ratio"),
        F.round(repetition_ratio, 6).alias("repetition_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def lang_id(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text",
            classifier=None) -> DataFrame:
    """Marker-word language ID over LANG_MARKERS + a CJK-codepoint check
    for zh. Deterministic tie-break: highest hit-count wins, ties by
    language code order; 'und' when nothing matches.

    ``classifier`` is the production plug-in seam: a Column-builder
    (typically an Arrow ``pandas_udf`` wrapping a fastText-grade model,
    exactly the url-validator pattern in validators/udf_tier.py)
    mapping the text Column to a
    ``struct<pred_lang:string, lang_hits:bigint>`` Column. When given,
    it replaces the heuristic and the rest of the pipeline (schema,
    partitioning, downstream filters) is unchanged — the heuristic is
    the dependency-free default, not a ceiling.

    Output: id, pred_lang, lang_hits."""
    t = F.col(text_col)
    if classifier is not None:
        s = classifier(t)
        return df.select(
            F.col(id_col),
            s["pred_lang"].alias("pred_lang"),
            s["lang_hits"].cast("long").alias("lang_hits"))
    words = _words(t)
    n_words = F.greatest(F.size(words), F.lit(1))
    scores = []
    for code in sorted(LANG_MARKERS):
        arr = F.array(*[F.lit(w) for w in LANG_MARKERS[code]])
        hits = F.size(F.filter(words,
                               lambda x: F.array_contains(arr, x)))
        scores.append((code, hits))
    cjk = F.length(F.regexp_replace(t, r"[^一-鿿]", ""))
    scores.append(("zh", cjk))

    structs = F.array(*[
        F.struct(hits.cast("long").alias("hits"), F.lit(code).alias("lang"))
        for code, hits in scores
    ])
    best = F.array_max(F.filter(structs, lambda s: s["hits"] > 0))
    return df.select(
        F.col(id_col),
        F.coalesce(best["lang"], F.lit("und")).alias("pred_lang"),
        F.coalesce(best["hits"], F.lit(0)).alias("lang_hits"),
    )


def compression_ratio(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", level: int = 6) -> DataFrame:
    """zlib compression ratio as a redundancy/quality signal — highly
    repetitive boilerplate compresses far better than natural prose,
    making this one of the standard cheap pretraining filters.

    Arrow-batched pandas UDF (the documented slow-path tier — zlib has
    no SQL analog, so this op is pytest-verified rather than
    oracle-checked; it is deterministic for a fixed zlib version+level).

    Output: <id_col>, n_bytes, n_compressed, compression_ratio
    (compressed/raw — lower = more redundant)."""
    import zlib

    @pandas_udf("struct<n_bytes:int, n_compressed:int>")
    def _comp(s: pd.Series) -> pd.DataFrame:
        nb, nc = [], []
        for t in s:
            if t is None:
                nb.append(None)
                nc.append(None)
            else:
                b = t.encode("utf-8")
                nb.append(len(b))
                nc.append(len(zlib.compress(b, level)))
        return pd.DataFrame({"n_bytes": nb, "n_compressed": nc})

    # evaluate the UDF once, expand the struct in a second projection
    tmp = df.select(F.col(id_col), _comp(F.col(text_col)).alias("__c"))
    return tmp.select(
        id_col,
        F.col("__c.n_bytes").alias("n_bytes"),
        F.col("__c.n_compressed").alias("n_compressed"),
        F.round(F.col("__c.n_compressed")
                / F.greatest(F.col("__c.n_bytes"), F.lit(1)), 6)
         .alias("compression_ratio"))


# Redaction patterns: deliberately simple, backref/lookaround-free so
# Java (Spark) and RE2-family engines (DuckDB oracle) agree byte-for-
# byte. Heuristic by design — a scrub pass trades precision for recall.
PII_PATTERNS = [
    # email (HTML5-ish user@domain with at least one dot in the domain)
    ("email", r"[A-Za-z0-9.!#$%&'*+/=?^_`{|}~-]+@"
              r"[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?"
              r"(?:\.[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?)+",
     "<EMAIL>"),
    # ipv4 (strict octets, word-bounded)
    ("ip", r"\b(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])"
           r"(?:\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9]))"
           r"{3}\b",
     "<IP>"),
    # international phone: + then 8-15 digits (E.164 bound), each digit
    # optionally followed by up to two separator chars — digit-counted,
    # so '+1 000 000' (7 digits) is not a phone
    ("phone", r"\+(?:[0-9][ ().-]{0,2}){7,14}[0-9]", "<PHONE>"),
    # candidate card/account numbers: 13-19 digit runs
    ("number", r"\b[0-9]{13,19}\b", "<NUMBER>"),
]


def redact_pii(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text",
               patterns=None) -> DataFrame:
    """PII scrub pass: replace emails / IPv4s / +international phones /
    long digit runs with typed placeholder tokens — the standard
    pretraining-corpus redaction step, entirely in codegen (chained
    regexp_replace, one scan, zero Python). Patterns apply in order
    (email before phone so user@host digits aren't half-eaten);
    ``patterns`` overrides the default [(name, regex, token), ...].

    Output: <id_col>, clean_text, n_redactions (exact count of
    replacements performed — pre-existing placeholder-looking text and
    shared tokens across patterns do not inflate it; each pattern's
    matches are counted on the text as it stood before that pattern
    applied)."""
    pats = patterns if patterns is not None else PII_PATTERNS
    t = F.col(text_col)
    n_red = F.lit(0)
    for _name, rx, token in pats:
        n_red = n_red + F.coalesce(F.regexp_count(t, F.lit(rx)),
                                   F.lit(0))
        t = F.regexp_replace(t, rx, token)
    return df.select(
        F.col(id_col),
        t.alias("clean_text"),
        n_red.cast("int").alias("n_redactions"))


def fingerprint(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", n: int = 3) -> DataFrame:
    """Content fingerprints: md5 of the normalized text (exact identity)
    and a winnowing-style rolling fingerprint = min md5 over word
    n-gram shingles (robust to local edits).

    Output: id, content_hash, shingle_fingerprint."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    # shared shingle tokenization (word_shingles_expr); the md5
    # transform's lambda reads a BOUND array element (cheap). Docs
    # with < n tokens get no shingles ⇒ array_min([]) = NULL
    # fingerprint (generate_series(1,0) = empty in the oracle)
    shingles = F.transform(word_shingles_expr(F.col(text_col), n),
                           lambda x: F.md5(x))
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("content_hash"),
        F.array_min(shingles).alias("shingle_fingerprint"),
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  bench_text_col: str = "text", n: int = 13,
                  min_hits: int = 1) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    any word ``n``-gram with an evaluation/benchmark set — the
    standard pretraining-corpus overlap check (13-gram by convention;
    the reference has no distributed analog, north_star distributed-
    only family).

    Returns one row per CONTAMINATED doc (``n_matched >= min_hits``):
    (<id_col>, n_matched distinct shingles hit, n_shingles distinct
    shingles in the doc, contamination_ppm = floor(1e6 * n_matched /
    n_shingles), sample_shingle = lexicographic min matched n-gram for
    triage). Compose ``docs.join(result, id_col, "left_anti")`` for the
    clean corpus.

    100 TB design: the benchmark side (thousands of eval rows) is
    distinct-shingled and broadcast, so the corpus-side scan joins
    with NO shuffle; only matching (doc, shingle) rows — a tiny
    minority — reach the per-doc aggregation. Docs with fewer than
    ``n`` words have no shingles and are never flagged.

    Shingling is ONE anchored-lookahead regexp_extract_all over the
    whitespace-normalized text — overlapping n-grams straight from the
    regex engine, inside whole-stage codegen. The obvious
    transform(sequence, i -> concat_ws(slice(words, i, n)))
    formulation produces the identical shingle set but runs ~14x
    slower: higher-order-function lambdas are interpreted per
    element (~30 us/shingle measured), which at 10^12-shingle corpus
    scale is the difference between hours and days."""
    def _shingle_arr(text: Column) -> Column:
        return F.array_distinct(word_shingles_expr(text, n))

    doc_sh = (docs
              .select(F.col(id_col), _shingle_arr(F.col(text_col)).alias("_sh"))
              .select(F.col(id_col), F.size("_sh").alias("n_shingles"),
                      F.explode("_sh").alias("shingle")))
    bench_sh = (benchmark
                .select(F.explode(_shingle_arr(F.col(bench_text_col)))
                        .alias("shingle"))
                .distinct())
    hits = (doc_sh
            .join(F.broadcast(bench_sh), "shingle")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_matched"),
                 F.first("n_shingles").alias("n_shingles"),
                 F.min("shingle").alias("sample_shingle")))
    return (hits
            .filter(F.col("n_matched") >= min_hits)
            .select(F.col(id_col), "n_matched", "n_shingles",
                    F.floor(F.lit(1000000.0) * F.col("n_matched")
                            / F.col("n_shingles"))
                     .cast("long").alias("contamination_ppm"),
                    "sample_shingle"))
