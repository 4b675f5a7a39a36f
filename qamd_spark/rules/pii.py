"""PII / toxicity regex patterns and the scrub chain.

Mirrors the reference's regex-pattern disclosure check (QAMyData
ValueRegexPatterns, reference src/check/post.rs:354-391; seed patterns for
e-mail + UK mobile in reference default.yaml:148-152 and
src/bin/gen_config.rs:16-20) and extends it from detect-only to
detect-and-scrub (north_star).

One shared Python ``re`` engine is used by BOTH the Spark pipeline (inside
the Arrow-batched pandas scoring stage) and the single-node oracle, so the
scrubbed text is bit-identical on the two paths — the safest answer to the
"exact scrubbed-text equality" risk (SURVEY.md §7).

Patterns are applied in the declared order; order matters (SSN before
generic phone so ``123-45-6789`` is scrubbed as SSN, not phone).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# payment-card candidate: 13-19 digits, single space/dash separators
# allowed inside. Matches are only scrubbed when the Luhn mod-10 checksum
# passes (PII_VALIDATORS below) — a bare digit-run regex false-positives
# on ids/timestamps/order numbers. Valid in Python re, Java regex (Spark)
# and RE2 (DuckDB); the JVM-side Column form lives further down.
CARD_CANDIDATE_RX = r"\b\d(?:[ -]?\d){11,17}\d\b"

# name -> (compiled pattern, replacement token). Declared application order.
PII_PATTERNS: list[tuple[str, re.Pattern, str]] = [
    (
        "email",
        # unanchored variant of the reference's e-mail seed regex
        # (default.yaml:150 anchors whole-value; we match within free text)
        re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
        "<EMAIL>",
    ),
    (
        "ssn",
        re.compile(r"\b\d{3}-\d{2}-\d{4}\b"),
        "<SSN>",
    ),
    (
        "uk_mobile",
        # reference default.yaml:151, unanchored
        re.compile(r"(?:\+44\s?7\d{3}|\(?07\d{3}\)?)\s?\d{3}\s?\d{3}"),
        "<PHONE>",
    ),
    (
        "us_phone",
        re.compile(r"(?<!\d)(?:\+?1[ .\-])?\(?\d{3}\)?[ .\-]\d{3}[ .\-]\d{4}(?!\d)"),
        "<PHONE>",
    ),
    (
        # appended LAST so the declared order of the original patterns is
        # untouched; not in the default config's `pii` list, so default
        # pipeline output is unchanged until a user opts in. The earlier
        # number patterns cannot consume part of a 4-4-4-4 card (their
        # \b / lookaround shapes don't fit 4-digit groups), so position in
        # the chain does not change what this pass sees.
        "credit_card",
        re.compile(CARD_CANDIDATE_RX),
        "<CARD>",
    ),
    (
        # opt-in like credit_card (absent from the default `pii` list):
        # Dolma-style IPv4 scrubbing with exact octet bounds, so
        # version-ish strings (1.2.3.4000) and out-of-range octets never
        # match. The earlier phone patterns cannot consume a valid IPv4
        # (their tails need a 4-digit group; octets are <= 3 digits).
        "ip_address",
        re.compile(
            r"\b(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
            r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\b"
        ),
        "<IP>",
    ),
]


def profanity_pattern(lexicon: list[str]) -> re.Pattern:
    """Word-boundary alternation over the toxicity lexicon (case-insensitive).

    The lexicon mechanism mirrors the reference's stopword dictionary check
    (src/check/post.rs:420-443) repurposed as a toxicity list (north_star).
    """
    alts = "|".join(re.escape(w) for w in sorted(lexicon))
    return re.compile(r"\b(?:" + alts + r")\b", re.IGNORECASE)


# Batch separator for the mega-string scrub. \x00 is provably outside every
# character class above, is not \s / \d / \w, so (a) no pattern can match
# ACROSS a row boundary, and (b) \b and the (?<!\d)/(?!\d) lookarounds see
# the separator exactly as they would a string edge — per-row application
# and mega-string application are therefore character-identical.
_SEP = "\x00"


def scrub_series(
    text: pd.Series,
    pii_names: list[str] | None = None,
    profanity_rx: re.Pattern | None = None,
) -> tuple[pd.Series, pd.Series, np.ndarray]:
    """Scrub a batch of texts.

    Returns (scrubbed text Series, per-row list-of-hit-pattern-names Series,
    profanity_hit bool ndarray). Null texts stay null with no hits.

    One regex pass per pattern over the \\x00-joined batch (see _SEP note):
    the engine scans a single megastring instead of 100k short strings,
    eliminating per-row call overhead (~4x on typical transcript batches).
    Patterns run in declared order over the evolving text, identical to
    sequential per-row subn. Per-row hit attribution: the subn replacement
    callback records each match's start offset (coordinates of the CURRENT
    pre-replacement megastring), mapped to rows by searchsorted over the
    row-start offsets; rows are only re-split when a pass actually matched.
    """
    active = [p for p in PII_PATTERNS if pii_names is None or p[0] in pii_names]
    notnull = text.notna()
    n = len(text)
    raw = text.tolist()
    values = ["" if not isinstance(s, str) else s for s in raw]
    # non-null, non-string rows (possible only in the pandas/oracle path;
    # Arrow string columns are str-or-null): pass the original value
    # through untouched instead of coercing to ""
    notnull_np = notnull.to_numpy()
    nonstr = [i for i, s in enumerate(raw)
              if notnull_np[i] and not isinstance(s, str)]
    passes: list[tuple[str, re.Pattern, str]] = list(active)
    if profanity_rx is not None:
        passes.append(("__profanity__", profanity_rx, "<PROFANITY>"))

    if any(_SEP in v for v in values):  # memchr scan; rare NUL-bearing batch
        scrubbed, hit_lists, prof_hit = _scrub_series_rowwise(
            text, values, passes, notnull
        )
        for i in nonstr:
            scrubbed.iloc[i] = raw[i]
        return scrubbed, hit_lists, prof_hit

    # Vectorized candidate prefilters from the ORIGINAL batch bytes:
    # email needs an '@', the number patterns need a digit. UTF-8 is
    # self-synchronizing (continuation bytes are >= 0x80), so byte-level
    # detection of '@'/digits has no multibyte false positives, and the
    # \x00 separators are exact row boundaries. Replacement tokens contain
    # neither '@' nor digits, so a row outside its pattern's candidate set
    # can never GAIN a match from an earlier pass — masks computed on the
    # original text stay valid necessary conditions for every pass.
    mb = np.frombuffer(_SEP.join(values).encode("utf-8"), dtype=np.uint8)
    sep_pos = np.flatnonzero(mb == 0)

    def _row_mask(byte_mask: np.ndarray) -> np.ndarray:
        rows = np.searchsorted(sep_pos, np.flatnonzero(byte_mask))
        m = np.zeros(n, dtype=bool)
        m[rows] = True
        return m

    has_at = _row_mask(mb == ord("@"))
    has_digit = _row_mask((mb >= ord("0")) & (mb <= ord("9")))
    prefilter = {"email": has_at, "ssn": has_digit,
                 "uk_mobile": has_digit, "us_phone": has_digit,
                 "credit_card": has_digit, "ip_address": has_digit}

    hit_cols: dict[str, np.ndarray] = {}
    for name, rx, repl in passes:
        hits = np.zeros(n, dtype=bool)
        cand_mask = prefilter.get(name)
        cand = np.flatnonzero(cand_mask) if cand_mask is not None else None
        if cand is not None and len(cand) == 0:
            hit_cols[name] = hits
            continue
        if cand is None or len(cand) > n // 2:
            sub_vals, sub_idx = values, None  # full scan cheaper than subset
        else:
            sub_vals, sub_idx = [values[i] for i in cand], cand
        pos: list[int] = []
        validator = PII_VALIDATORS.get(name)

        def _repl(m, _pos=pos, _r=repl, _v=validator):
            if _v is not None and not _v(m.group(0)):
                return m.group(0)  # candidate fails validation: untouched
            _pos.append(m.start())
            return _r

        mega = _SEP.join(sub_vals)
        new_mega, k = rx.subn(_repl, mega)
        if k:
            ns = len(sub_vals)
            lens = np.fromiter((len(v) for v in sub_vals), dtype=np.int64, count=ns)
            starts = np.zeros(ns, dtype=np.int64)
            np.cumsum(lens[:-1] + 1, out=starts[1:])
            rows = np.searchsorted(starts, np.asarray(pos), side="right") - 1
            new_vals = new_mega.split(_SEP)
            if sub_idx is None:
                values = new_vals
                hits[rows] = True
            else:
                for li, gi in enumerate(sub_idx):
                    values[gi] = new_vals[li]
                hits[sub_idx[rows]] = True
        hit_cols[name] = hits

    prof_hit = hit_cols.pop("__profanity__", np.zeros(n, dtype=bool))
    for i in nonstr:
        values[i] = raw[i]
    scrubbed = pd.Series(values, index=text.index, dtype=object)
    names = list(hit_cols)
    if names:
        mat = np.column_stack([hit_cols[nm] for nm in names])
        hit_lists = pd.Series(
            [[nm for nm, h in zip(names, row) if h] for row in mat], index=text.index
        )
    else:
        hit_lists = pd.Series([[] for _ in range(n)], index=text.index)
    scrubbed = scrubbed.where(notnull, None)
    return scrubbed, hit_lists, prof_hit


def _scrub_series_rowwise(
    text: pd.Series,
    values: list[str],
    passes: list[tuple[str, re.Pattern, str]],
    notnull: pd.Series,
) -> tuple[pd.Series, pd.Series, np.ndarray]:
    """Sequential per-row subn — the semantics the megastring path must
    equal (tests/test_pii.py asserts equivalence); used when a batch
    contains NUL characters."""
    n = len(values)
    hit_cols: dict[str, np.ndarray] = {}
    for name, rx, repl in passes:
        sub = rx.subn
        validator = PII_VALIDATORS.get(name)
        hits = np.zeros(n, dtype=bool)
        for i, s in enumerate(values):
            if validator is None:
                values[i], k = sub(repl, s)
                if k:
                    hits[i] = True
            else:
                replaced = False

                def _r(m):
                    nonlocal replaced
                    if not validator(m.group(0)):
                        return m.group(0)
                    replaced = True
                    return repl

                values[i], _ = sub(_r, s)
                if replaced:
                    hits[i] = True
        hit_cols[name] = hits
    prof_hit = hit_cols.pop("__profanity__", np.zeros(n, dtype=bool))
    scrubbed = pd.Series(values, index=text.index, dtype=object)
    names = list(hit_cols)
    if names:
        mat = np.column_stack([hit_cols[nm] for nm in names])
        hit_lists = pd.Series(
            [[nm for nm, h in zip(names, row) if h] for row in mat], index=text.index
        )
    else:
        hit_lists = pd.Series([[] for _ in range(n)], index=text.index)
    return scrubbed.where(notnull, None), hit_lists, prof_hit


# --------------------------------------------------------------------------
# Luhn-verified payment-card detection — the validated-PII upgrade of the
# plain regex family above (a bare \d{13,19} regex false-positives on ids,
# timestamps, order numbers; the Luhn mod-10 checksum rejects ~90% of
# random digit runs). Unlike the patterns above this one is PURE JVM
# Column algebra (regexp_extract_all + higher-order transform/aggregate),
# so it runs inside whole-stage codegen with no Python stage — and the
# identical arithmetic is expressible in DuckDB SQL, so the driver gate
# checks it hash-exact (see __spark_entry__.oracle_sql()['pii_luhn']).

# (candidate regex CARD_CANDIDATE_RX is defined at the top of the module)


def luhn_candidates(text):
    """Array column of raw card-number candidates in text."""
    from pyspark.sql import functions as F

    return F.regexp_extract_all(
        F.coalesce(text, F.lit("")), F.lit(CARD_CANDIDATE_RX), F.lit(0)
    )


def luhn_valid(candidate):
    """Boolean Column: candidate's digits pass the Luhn mod-10 checksum
    and are 13-19 digits long. Fold formulation shared with the DuckDB
    twin: over i = 1..len positions of the REVERSED digit string, even
    positions double (minus 9 above 9), sum % 10 == 0."""
    from pyspark.sql import functions as F

    digits = F.regexp_replace(candidate, "[^0-9]", "")
    rev = F.split(F.reverse(digits), "", -1)  # array of single chars
    total = F.aggregate(
        F.sequence(F.lit(1), F.length(digits)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            i % 2 == 0,
            F.when(
                F.element_at(rev, i).cast("int") * 2 > 9,
                F.element_at(rev, i).cast("int") * 2 - 9,
            ).otherwise(F.element_at(rev, i).cast("int") * 2),
        ).otherwise(F.element_at(rev, i).cast("int")),
    )
    return (
        (F.length(digits) >= 13) & (F.length(digits) <= 19) & (total % 10 == 0)
    )


# pure-Python twin of luhn_valid for the pandas oracle / property tests
def luhn_valid_py(candidate: str) -> bool:
    d = re.sub(r"[^0-9]", "", candidate)
    if not (13 <= len(d) <= 19):
        return False
    total = 0
    for i, ch in enumerate(reversed(d), start=1):
        v = int(ch)
        if i % 2 == 0:
            v *= 2
            if v > 9:
                v -= 9
        total += v
    return total % 10 == 0


# match-validators applied by scrub_series/_scrub_series_rowwise before a
# candidate is replaced: name -> callable(matched string) -> bool. Shared
# by the Spark scoring stage and the pandas oracle (same module), so the
# validated scrub is bit-identical on both paths by construction.
PII_VALIDATORS = {"credit_card": luhn_valid_py}
