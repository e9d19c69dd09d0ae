"""Text-analysis column functions for large-scale training-data pipelines.

These extend the reference's surface (which only ever treats text as an
opaque encodable item, README.md:21) with the operations a 100 TB document
corpus needs: tokenization, token statistics, quality scoring, language
identification, n-gram shingling, and content fingerprints.

Everything here is a pure Catalyst expression (split / filter / transform /
aggregate / md5) — whole-stage codegen, no Python workers — and every
function has a deterministic DuckDB-SQL twin used by the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from faisssearcher_spark.functions.metrics import ColumnOrName, _col

#: tiny per-language stopword lists for the n-gram/stopword language-id
#: heuristic. Deliberately small and deterministic; a production pipeline
#: would plug in a real model via the encoder/UDF protocol.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "las"),
    "fr": ("le", "la", "de", "et", "un", "une", "les", "des", "est", "que"),
    "de": ("der", "die", "das", "und", "ein", "eine", "ist", "zu", "den", "von"),
    "zh": ("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"),
}

ENGLISH_STOPWORDS = LANG_STOPWORDS["en"]


def tokens(c: ColumnOrName) -> Column:
    """Whitespace tokenization (empty tokens dropped)."""
    return F.filter(F.split(F.trim(_col(c)), r"\s+"), lambda t: t != "")


def tokens_sql(c: str) -> str:
    """SQL text of :func:`tokens` over the column expression ``c`` —
    same operators, same lambda-variable name, so the parsed tree is
    plan-identical (pinned in tests/test_sqltext_parity.py). Exists
    because the hot signature builders render their whole tree as one
    SQL string to avoid per-node py4j round-trips (functions/sqltext.py)."""
    from faisssearcher_spark.functions.sqltext import sql_str

    return f"filter(split(trim({c}), {sql_str(chr(92) + 's+')}), t -> t != '')"


def token_count(c: ColumnOrName) -> Column:
    return F.size(tokens(c))


def distinct_token_count(c: ColumnOrName) -> Column:
    return F.size(F.array_distinct(tokens(c)))


def bpe_token_estimate(c: ColumnOrName, chars_per_token: float = 4.0) -> Column:
    """BPE-ish token-count estimate: ceil(len(tok)/4) summed over tokens —
    the standard chars/4 heuristic, computed per word so whitespace doesn't
    inflate the estimate."""
    return F.aggregate(
        tokens(c), F.lit(0),
        lambda acc, t: acc + F.ceil(F.length(t) / F.lit(chars_per_token)).cast("int"))


def avg_token_length(c: ColumnOrName) -> Column:
    toks = tokens(c)
    return F.when(F.size(toks) > 0,
                  F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
                  / F.size(toks))


def stopword_ratio(c: ColumnOrName, stopwords: tuple[str, ...] = ENGLISH_STOPWORDS) -> Column:
    """Fraction of tokens that are (lowercase) stopwords."""
    toks = tokens(c)
    hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*stopwords)))
    return F.when(F.size(toks) > 0, hits / F.size(toks))


def punct_ratio(c: ColumnOrName) -> Column:
    """Fraction of characters that are not alphanumeric or whitespace."""
    s = _col(c)
    stripped = F.regexp_replace(s, r"[A-Za-z0-9\s]", "")
    return F.when(F.length(s) > 0, F.length(stripped) / F.length(s))


def quality_score_parts(n_tokens: Column, sw_ratio: Column,
                        p_ratio: Column) -> Column:
    """The quality composite over pre-computed parts — the single source
    of truth for the formula. Callers that already materialized the token
    array (operators/text_analysis.quality_scores) feed attribute-derived
    parts so the tokenizer runs once per row; :func:`quality_score` is
    the convenience form over the raw text column."""
    length_ok = F.when((n_tokens >= 5) & (n_tokens <= 10000),
                       F.lit(1.0)).otherwise(0.2)
    sw_ok = F.when(sw_ratio >= 0.05, F.lit(1.0)).otherwise(0.0)
    punct = F.coalesce(p_ratio, F.lit(0.0))
    return length_ok * (0.5 + 0.5 * sw_ok) \
        * (1.0 - F.least(F.lit(1.0), 3.0 * punct))


def quality_score(c: ColumnOrName) -> Column:
    """Composite document-quality heuristic in [0, 1].

    Combines length, stopword presence, and punctuation density — the
    standard cheap pre-filter shape for pretraining corpora (C4-style):
    score = length_ok * (0.5 + 0.5*stopword_ok) * (1 - min(1, 3*punct)).

    NB: this form re-tokenizes per part (the higher-order-function
    expressions are CodegenFallback, and the interpreted projection does
    NOT common-subexpression-eliminate — measured ~18% on the documents
    corpus). In a projection that computes several token-derived columns,
    materialize the token array once and use
    :func:`quality_score_parts`."""
    return quality_score_parts(token_count(c), stopword_ratio(c),
                               punct_ratio(c))


def token_array_stopword_ratio(toks: Column,
                               stopwords: tuple[str, ...] = ENGLISH_STOPWORDS
                               ) -> Column:
    """stopword_ratio over an already-materialized token-array ATTRIBUTE
    (tokenize-once discipline; see quality_score notes)."""
    hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*stopwords)))
    return F.when(F.size(toks) > 0, hits / F.size(toks))


def lang_scores_from_tokens(toks: Column) -> list[tuple[str, Column]]:
    """Per-language stopword hit counts over an already-materialized
    token-array column (tokenize-once discipline; see quality_score
    notes — the HOF expressions are CodegenFallback and the interpreted
    projection does not CSE repeated tokenizations)."""
    def hit_counter(sw: tuple[str, ...]):
        # NB: the predicate must be a 1-arg lambda — F.filter treats a
        # second parameter as the element *index*.
        return F.size(F.filter(toks, lambda t: F.lower(t).isin(*sw)))

    return [(lang, hit_counter(sw)) for lang, sw in LANG_STOPWORDS.items()]


def language_confidence(c: ColumnOrName, *,
                        temperature: float = 0.05) -> Column:
    """Calibrated confidence in ``[1/K, 1]`` for
    :func:`detect_language`'s argmax: softmax over LENGTH-INVARIANT
    per-language stopword rates (hits / token count — raw hit counts
    grow with document length, so they cannot share one temperature
    across lengths).

    ``conf = exp(r_best / τ) / Σ_lang exp(r_lang / τ)`` with
    ``τ = temperature``. Properties downstream curation recipes can
    threshold on:

    - strictly monotone in the rate margin between the top and the
      other languages (pinned in tests);
    - a document with NO stopword signal (``lang_pred = 'und'``) scores
      exactly the uniform ``1/K`` — the honest "no evidence" value;
    - τ = 0.05 calibrates one extra stopword hit per 20 tokens
      (rate margin 0.05) to an e-fold (~2.7×) odds bump, putting typical
      clean prose (rate ≈ 0.2-0.4 for the true language, ≈ 0 for the
      rest) above 0.99 and genuinely mixed text near 1/2.

    Pure Catalyst expression (one tokenize + K filtered counts + exp
    arithmetic) — replayable verbatim in the DuckDB oracle twin."""
    # NULL text must score the uniform 1/K (no evidence), not NULL —
    # size(tokens(NULL)) is NULL and would poison the softmax
    return language_confidence_from_tokens(
        tokens(F.coalesce(_col(c), F.lit(""))), temperature=temperature)


def language_confidence_from_tokens(toks: Column, *,
                                    temperature: float = 0.05) -> Column:
    """:func:`language_confidence` over an already-materialized token
    array (the tokenize-once discipline; NULL arrays score the uniform
    1/K like NULL text)."""
    from functools import reduce
    from operator import add

    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    safe = F.coalesce(toks, F.array().cast("array<string>"))
    nt = F.greatest(F.size(safe), F.lit(1))
    es = [F.exp(s / nt / F.lit(float(temperature)))
          for _, s in lang_scores_from_tokens(safe)]
    return F.greatest(*es) / reduce(add, es)


def detect_language_from_tokens(toks: Column,
                                default: str = "und") -> Column:
    """:func:`detect_language` over an already-materialized token array
    (the tokenize-once discipline)."""
    scores = lang_scores_from_tokens(toks)
    pairs = F.array(*[F.struct(s.alias("hits"), F.lit(lang).alias("lang"))
                      for lang, s in sorted(scores, key=lambda kv: kv[0])])
    best = F.array_max(F.filter(pairs, lambda p: p["hits"] > 0))
    # array_max on struct compares fields in order: hits, then lang — ties
    # resolve to the lexicographically LARGEST language name; invert by
    # ordering on (hits, reversed rank) instead: simpler to keep max-lang
    # semantics and mirror it in the oracle.
    return F.coalesce(best["lang"], F.lit(default))


def detect_language(c: ColumnOrName, default: str = "und") -> Column:
    """Stopword-hit language-id heuristic: argmax of per-language stopword
    counts; ``default`` when no list matches. Ties break by language name
    (deterministic, oracle-checkable)."""
    return detect_language_from_tokens(tokens(c), default)


def word_ngrams(c: ColumnOrName, n: int, *,
                pre_tokenized: bool = False) -> Column:
    """Word n-gram shingles as space-joined strings (dedup shingling).
    Documents shorter than n tokens yield an empty array.

    Built as a zip_with fold over ``n`` shifted slices of the token array
    rather than ``transform(sequence(...), i -> slice(toks, i, n))``:
    Catalyst does NOT common-subexpression-eliminate inside higher-order
    lambdas, so the per-index form re-evaluates the regexp tokenization
    once per gram (~|tokens| times per row) — measured 6-8× slower on the
    documents corpus. The fold evaluates it only ``n`` times per row.
    ``pre_tokenized=True`` treats ``c`` as the token array itself and
    evaluates it once."""
    toks = _col(c) if pre_tokenized else tokens(c)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    acc = F.slice(toks, 1, m)
    for j in range(2, n + 1):
        acc = F.zip_with(acc, F.slice(toks, j, m),
                         lambda x, y: F.concat_ws(" ", x, y))
    return acc


def word_ngrams_sql(c: str, n: int, *, pre_tokenized: bool = False) -> str:
    """SQL text of :func:`word_ngrams` (same fold shape, same lambda
    names; parity pinned in tests/test_sqltext_parity.py). See
    :func:`tokens_sql` for why the SQL-text twin exists."""
    toks = c if pre_tokenized else tokens_sql(c)
    m = f"greatest((size({toks}) - {n - 1}), 0)"
    acc = f"slice({toks}, 1, {m})"
    for j in range(2, n + 1):
        acc = (f"zip_with({acc}, slice({toks}, {j}, {m}), "
               f"(x, y) -> concat_ws(' ', x, y))")
    return acc


def fingerprint(c: ColumnOrName, *, pre_tokenized: bool = False) -> Column:
    """Canonical content fingerprint: md5 of the sorted distinct lowercase
    token set. Robust to token order and duplication — the classic
    "fingerprint clustering" key (Google Refine style).

    ``pre_tokenized=True`` treats ``c`` as an already-tokenized
    ``array<string>`` column — the share-one-tokenize-scan discipline
    for pipelines that fan a corpus into several token consumers."""
    toks = _col(c) if pre_tokenized else tokens(c)
    canon = F.array_join(
        F.array_sort(F.array_distinct(F.transform(toks, F.lower))), " ")
    return F.md5(canon)


def rolling_hash(c: ColumnOrName, modulus: int = 1_000_000_007, base: int = 31,
                 *, pre_tokenized: bool = False) -> Column:
    """Polynomial rolling hash over the token stream (order-sensitive
    fingerprint): h = sum(base^i * md5int(tok_i)) mod m, computed left to
    right as h = (h*base + md5int(tok)) mod m. ``pre_tokenized`` as in
    :func:`fingerprint`."""
    toks = _col(c) if pre_tokenized else tokens(c)
    def step(acc: Column, t: Column) -> Column:
        tok_int = F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
        return (acc * base + tok_int) % F.lit(modulus)
    return F.aggregate(toks, F.lit(0).cast("long"), step)


def md5_int(c: ColumnOrName, hex_chars: int = 8) -> Column:
    """First ``hex_chars`` of md5 as a non-negative bigint — the shared
    deterministic token hash used by MinHash/SimHash (identical in DuckDB:
    ``('0x' || substring(md5(x),1,n))::BIGINT``)."""
    return F.conv(F.substring(F.md5(_col(c)), 1, hex_chars), 16, 10).cast("long")


def lines(c: ColumnOrName) -> Column:
    """Non-blank lines of the document (whitespace-trimmed split on \\n)."""
    return F.filter(F.transform(F.split(_col(c), r"\n"), F.trim),
                    lambda t: t != "")


def normalize_text(c: ColumnOrName) -> Column:
    """Canonical form for dedup keys (the C4/RefinedWeb normalize-before-
    dedup step): lowercase, non-alphanumerics to spaces, whitespace
    collapsed, trimmed — so punctuation/casing/spacing variants of the
    same passage collide. ASCII canonicalization only: Unicode NFKC
    would need ICU, which neither the container nor a DuckDB oracle
    carries; the regex classes below are ASCII in Java and RE2 alike,
    so the SQL twin is byte-exact. Pure codegen'd string ops — scan
    speed on a 100 TB corpus."""
    lowered = F.lower(_col(c))
    stripped = F.regexp_replace(lowered, r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(stripped, r"\s+", " "))


def top_element_count(arr: Column) -> Column:
    """Highest occurrence count of any single element in ``arr`` (0 for
    empty).

    Linear shape: sort the array once, then a single fold counts the
    longest run of equal neighbours — O(n log n) per row, one pass, no
    shuffle. (The obvious ``array_max(transform(array_distinct(a), g ->
    size(filter(a, y -> y == g))))`` is O(n²) per row — a 10k-token
    document costs ~10⁸ string compares that no partitioning fixes; it
    was the engine's one quadratic expression and the measured cause of
    the round-4 quality-gate regression.)

    Pass an ATTRIBUTE (materialized via ``withColumn``), not a derived
    expression: Catalyst re-evaluates expressions referenced inside
    higher-order lambdas per element (NOTES.md trap), so a derived gram
    array would re-tokenize O(|arr|) times per row."""
    def step(acc: Column, x: Column) -> Column:
        run = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(x.alias("prev"),
                        run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))
    zero = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).alias("run"), F.lit(0).alias("best"))
    return F.aggregate(F.array_sort(arr), zero, step, lambda acc: acc["best"])
