"""PII redaction for training corpora — pure-Catalyst regex scrubbing.

The standard pre-release curation step: emails, phone numbers, IP
addresses, and long digit runs (card/account shapes) are replaced with
stable placeholder tokens so models neither memorize nor regurgitate
them. Every rule is a single ``regexp_replace`` compiled into whole-stage
codegen — the scrub runs at scan speed over a 100 TB corpus with no
Python, and the per-rule hit counts come from ``regexp_count`` in the
same projection (one pass: count then replace).

Deliberately heuristic and conservative (like the C4/Gopher cleanups):
regex PII detection has both false positives and negatives; the operator
exists to make the common shapes cheap and auditable, not to promise
completeness — plug an NER model in via mapInPandas where a stronger
guarantee is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: redaction rules: name → (regex, replacement token). ORDER IS LOAD-
#: BEARING: emails go before the digit rules can eat their local parts,
#: and IPv4 before the phone shape (a dotted quad's first two octets
#: parse as a dotted phone number otherwise).
PII_RULES: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
              "<EMAIL>"),
    "ipv4": (r"(?<!\d)(?:\d{1,3}\.){3}\d{1,3}(?!\d)", "<IP>"),
    "phone": (r"(?<!\d)(?:\+?\d{1,3}[-. ])?(?:\(\d{2,4}\)[-. ]?)?"
              r"\d{3}[-. ]\d{3,4}(?:[-. ]\d{3,4})?(?!\d)",
              "<PHONE>"),
    "long_digits": (r"(?<!\d)\d{9,}(?!\d)", "<NUMBER>"),
}


def redact_pii(df: DataFrame, *, text_col: str = "text",
               out_col: str | None = None,
               rules: dict[str, tuple[str, str]] | None = None,
               with_counts: bool = True) -> DataFrame:
    """Replace ``text_col`` (or append ``out_col``) with redacted text;
    ``with_counts`` adds one ``n_<rule>`` int column per rule — the audit
    trail a compliance review reads. Each rule counts against the text
    AS THE PRIOR RULES LEFT IT, so the counts equal the replacements the
    rule actually made (an IP already redacted is not double-counted as
    a phone number)."""
    rules = rules or PII_RULES
    target = out_col or text_col
    # fail loudly on output-name collisions: a frame that already has an
    # n_<rule> (or the out_col) column would end up with duplicate column
    # names, which breaks every later select-by-name
    taken = set(df.columns) - ({target} if out_col is None else set())
    new_names = ([target] if out_col else []) \
        + ([f"n_{name}" for name in rules] if with_counts else [])
    clashes = [n for n in new_names if n in taken]
    if clashes:
        raise ValueError(
            f"redact_pii output column(s) {clashes} already exist in the "
            f"input frame; rename them or pass custom rules/out_col")
    proj = [F.col(c) for c in df.columns if c != target]
    counts = []
    cur = F.col(text_col)
    for name, (pattern, token) in rules.items():
        counts.append(F.regexp_count(cur, F.lit(pattern)).alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pattern, token)
    proj.append(cur.alias(target))
    if with_counts:
        proj += counts
    return df.select(*proj)


def k_anonymity_report(df: DataFrame, quasi_cols: "list[str]", *,
                       k: int = 5) -> DataFrame:
    """k-anonymity check over a quasi-identifier combination: one row —
    ``(k, n_rows, n_groups, min_group_size, n_violating_groups,
    n_violating_rows, is_k_anonymous)``.

    A release is k-anonymous when every quasi-identifier combination
    (e.g. zip × birth-year × gender) matches at least ``k`` rows —
    below that, rows are re-identifiable by joining public data. The
    check is one groupBy over the quasi columns plus one tiny aggregate
    of the group sizes (map-side combined; payload columns never read).

    Use together with :func:`redact_pii`: redaction scrubs direct
    identifiers, this measures the *indirect* identifier risk that
    remains.
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if k < 2:
        raise ValueError("k must be >= 2 (k=1 is vacuous)")
    sizes = df.groupBy(*quasi_cols).agg(F.count("*").alias("n"))
    return sizes.agg(
        F.lit(k).alias("k"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_rows"),
        F.count("*").alias("n_groups"),
        F.min("n").alias("min_group_size"),
        F.coalesce(F.sum(F.when(F.col("n") < k, 1).otherwise(0)),
                   F.lit(0)).alias("n_violating_groups"),
        F.coalesce(F.sum(F.when(F.col("n") < k, F.col("n")).otherwise(0)),
                   F.lit(0)).alias("n_violating_rows"),
        F.coalesce(F.min("n") >= k, F.lit(True)).alias("is_k_anonymous"))


def suppress_below_k(df: DataFrame, quasi_cols: "list[str]", *,
                     k: int = 5) -> DataFrame:
    """Drop every row whose quasi-identifier combination matches fewer
    than ``k`` rows — the suppression route to k-anonymity (the
    alternative, generalization, is a domain decision: bucket the quasi
    columns first — e.g. ``F.floor(age/10)``, zip prefixes — then
    suppress what still violates).

    Plan: group sizes per combination, broadcast-free semi join back on
    the quasi columns (both sides shuffle by the same key — co-located),
    filter ``n ≥ k``. The join is NULL-SAFE (``<=>``): the groupBy
    treats a NULL quasi value as a real group, so the join back must
    match it too — a plain equi-join would silently suppress every row
    of a large all-NULL group (r6 ADVICE). EqualNullSafe is still an
    equi-join key to Catalyst, so the co-location argument is unchanged.
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if k < 2:
        raise ValueError("k must be >= 2")
    sizes = (df.groupBy(*quasi_cols).agg(F.count("*").alias("__kn"))
             .filter(F.col("__kn") >= k)
             .select([F.col(c).alias(f"__q{i}")
                      for i, c in enumerate(quasi_cols)]))
    cond = None
    for i, c in enumerate(quasi_cols):
        e = F.col(c).eqNullSafe(F.col(f"__q{i}"))
        cond = e if cond is None else cond & e
    return df.join(sizes, cond, "left_semi")


def blocklist_screen(df: DataFrame, terms: "list[str]", *,
                     text_col: str = "text", mode: str = "flag",
                     out_col: str = "n_blocked_terms",
                     case_insensitive: bool = True,
                     chunk_size: int = 200) -> DataFrame:
    """C4-style blocklist screen: count whole-word blocklist hits per
    document with codegen'd ``regexp_count`` (one scan, no Python) and
    either ``mode="flag"`` (append the count) or ``mode="drop"`` (keep
    only zero-hit documents).

    The term list compiles into alternation regexes of ``chunk_size``
    terms each (very large lists would exceed regex-size limits as one
    pattern); counts sum across chunks. Terms are regex-escaped and
    anchored on word boundaries, so "ass" does not hit "class".

    This is the scan-speed lexical screen; it is deliberately dumb —
    the documented C4 trade-off (over-blocks medical/dialect text).
    Pair with the quality classifier for model-based filtering.
    """
    import re as _re

    if not terms:
        raise ValueError("terms must be non-empty")
    if any(not t for t in terms):
        raise ValueError("blocklist terms must be non-empty strings")
    if mode not in ("flag", "drop"):
        raise ValueError("mode must be 'flag' or 'drop'")
    if mode == "flag" and out_col in df.columns:
        raise ValueError(f"output column {out_col!r} already exists")
    # (?iu): Java's (?i) alone folds ASCII only — multilingual terms
    # need UNICODE_CASE or uppercase variants silently pass the screen
    flags = "(?iu)" if case_insensitive else ""

    def _bounded(term: str) -> str:
        # \b needs a WORD char on the term side of the boundary; terms
        # with punctuation edges ("c++", masked profanity) would never
        # match — use lookarounds on non-word edges instead
        lead = r"\b" if _re.match(r"\w", term[0]) else r"(?<!\w)"
        trail = r"\b" if _re.match(r"\w", term[-1]) else r"(?!\w)"
        return lead + _re.escape(term) + trail

    text = F.coalesce(F.col(text_col), F.lit(""))   # NULL text: 0 hits
    total = F.lit(0)
    for i in range(0, len(terms), chunk_size):
        chunk = terms[i:i + chunk_size]
        pat = flags + "(" + "|".join(_bounded(t) for t in chunk) + ")"
        total = total + F.regexp_count(text, F.lit(pat))
    if mode == "drop":
        return df.filter(total == 0)
    return df.withColumn(out_col, total)
