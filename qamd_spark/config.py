"""Declarative rule registry + YAML config.

Mirrors the reference's config system in shape and spirit:
- same 4-section YAML layout with ``{setting, desc}`` per rule and
  every rule optional — absent setting ⇒ rule skipped, i.e. pruned from
  the plan (reference default.yaml:18-168; optional-rule semantics
  src/config.rs:62-71; skip-on-None e.g. src/check/variable.rs:95)
- validation bounds on load (reference src/config.rs:74-246:
  non-empty lists, thresholds in (0,100], valid regex)
- a fixed registry order that defines summary-report ordering
  (reference CheckName ordinal order, src/report/mod.rs:30-42)

We add a 5th section ``quality`` (langid/perplexity) — a documented
extension beyond the reference's 4 categories (src/report/mod.rs:96-101).

Each rule carries an ``action``:
- drop  — a hit drops the turn (keep=False)
- scrub — a hit rewrites text (PII/profanity) but keeps the turn
- flag  — a hit is recorded in rule_hits/summary only
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any

try:
    import yaml  # type: ignore

    _HAVE_YAML = True
except Exception:  # pragma: no cover
    _HAVE_YAML = False

from qamd_spark import corpora

CATEGORIES = (
    "basic_file_checks",
    "metadata",
    "data_integrity",
    "disclosure_risk",
    "quality",
)

ACTIONS = ("drop", "scrub", "flag")


@dataclass(frozen=True)
class RuleSpec:
    name: str
    category: str
    action: str
    desc: str


# Registry order = summary order (CheckName-ordinal analogue).
RULE_REGISTRY: tuple[RuleSpec, ...] = (
    RuleSpec("bad_conv_id", "basic_file_checks", "drop",
             "Conversation id should match the specified pattern"),
    RuleSpec("role_vocabulary", "metadata", "drop",
             "Turn role should be one of the allowed roles"),
    RuleSpec("field_length", "metadata", "flag",
             "Role/tool strings should not exceed the length bound"),
    RuleSpec("empty_turn", "metadata", "drop",
             "Turn text should not be empty or null (system-missing analogue)"),
    RuleSpec("sentinel_text", "metadata", "drop",
             "Turn text should not be a bare missing-value sentinel"),
    RuleSpec("length_bounds", "data_integrity", "drop",
             "Turn text length should be within the configured bounds"),
    RuleSpec("odd_characters", "data_integrity", "flag",
             "Turn text should not contain the specified odd characters"),
    RuleSpec("odd_char_ratio", "data_integrity", "drop",
             "Fraction of odd characters should not exceed the bound"),
    RuleSpec("encoding", "data_integrity", "flag",
             "Turn text should not contain encoding damage "
             "(mojibake / control / zero-width characters)"),
    RuleSpec("repetition", "data_integrity", "drop",
             "Most-frequent-token fraction should not exceed the bound"),
    RuleSpec("oov_fraction", "data_integrity", "flag",
             "Fraction of tokens outside the vocabulary should not exceed the bound"),
    RuleSpec("duplicate_turn", "data_integrity", "drop",
             "Turn text should not duplicate an earlier turn (keep-first)"),
    RuleSpec("conv_neardup", "data_integrity", "drop",
             "Conversation should not near-duplicate an earlier conversation "
             "(whole-conversation MinHash LSH, keep-first by conv_id)"),
    RuleSpec("conv_missing_fraction", "data_integrity", "drop",
             "Conversation should not exceed the empty-turn percentage bound"),
    RuleSpec("ts_regression", "data_integrity", "flag",
             "Turn timestamp should not precede the previous turn's timestamp"),
    RuleSpec("pii", "disclosure_risk", "scrub",
             "Turn text should not contain PII patterns (scrubbed)"),
    RuleSpec("profanity", "disclosure_risk", "scrub",
             "Turn text should not contain lexicon words (scrubbed)"),
    RuleSpec("all_stopwords", "disclosure_risk", "drop",
             "Turn text should not consist entirely of stopwords"),
    RuleSpec("stopword_fraction", "disclosure_risk", "drop",
             "Stopword fraction of turn tokens should not exceed the bound"),
    RuleSpec("rare_signature", "disclosure_risk", "flag",
             "Turn text occurring <= threshold times globally (outlier)"),
    RuleSpec("custom_regex", "disclosure_risk", "flag",
             "Turn text should not match any user-specified regex pattern"),
    RuleSpec("refusal", "quality", "flag",
             "Assistant turn text should not contain canned refusal / "
             "disclaimer template phrases"),
    RuleSpec("homoglyph", "disclosure_risk", "flag",
             "Turn text should not contain words mixing Latin with "
             "Cyrillic/Greek letters (confusable spoofing)"),
    RuleSpec("langid", "quality", "drop",
             "Turn language should be in the allowed set"),
    RuleSpec("perplexity", "quality", "drop",
             "Turn trigram perplexity should not exceed the bound"),
    RuleSpec("quality_classifier", "quality", "drop",
             "Trained quality score should not fall below the threshold"),
    RuleSpec("compression", "quality", "drop",
             "Turn text zlib compressibility should stay within the "
             "prose band (too low = repetitive boilerplate, too high = "
             "random/binary payload)"),
)

RULE_BY_NAME = {r.name: r for r in RULE_REGISTRY}

DEFAULT_ODD_CHARS = ["&", "#", "  ", "@", "*", "ç", "ô", "ü"]

# Default settings (None ⇒ rule disabled). Shapes per rule documented here.
DEFAULT_SETTINGS: dict[str, Any] = {
    "bad_conv_id": r"^[A-Za-z0-9_\-]+$",
    "role_vocabulary": ["user", "assistant", "system", "tool"],
    # ValueLabelMaxLength analogue for the non-text string fields
    # (reference src/check/post.rs:132-166 bounds value-label length)
    "field_length": {"max": 64},
    "empty_turn": True,
    # defined-missing sentinels with no annotation — the transcript analogue
    # of SPSS ValueDefinedMissingNoLabel (reference src/check/value.rs:18-44)
    "sentinel_text": ["N/A", "n/a", "NA", "-9", "-99", "null", "NULL", "none", "..."],
    "length_bounds": {"min": 2, "max": 8000},
    "odd_characters": DEFAULT_ODD_CHARS,
    "odd_char_ratio": 0.08,
    # ftfy-style encoding-damage flag (ops/text.encoding_damage):
    # mojibake (utf8-seen-as-cp1252), control / zero-width chars, U+FFFD.
    # Off by default so existing output shapes are unchanged; True enables.
    "encoding": None,
    "repetition": {"max": 0.6, "min_tokens": 5},
    # spellcheck/OOV analogue (reference dictionary checks,
    # src/check/post.rs:169-226): disabled by default (no bundled big vocab)
    "oov_fraction": None,
    # ValueRegexPatterns analogue (reference src/check/post.rs:354-391):
    # user regexes, disabled by default like the reference (default.yaml:148)
    "custom_regex": None,
    "duplicate_turn": True,
    # conversation-level near-dup (MinHash LSH over the whole conversation
    # text in turn order, qamd_spark/ops/dedup.py kernels): drops every
    # turn of a conversation that near-duplicates a lexicographically
    # earlier conv_id. Off by default — a cross-row rule that adds one
    # global aggregation + broadcast join when enabled; True enables.
    "conv_neardup": None,
    "conv_missing_fraction": 25,  # percent, (0,100] like the reference
    # DateFormat analogue for a typed ts column (reference DateFormat
    # checks variable date-format strings, src/check/variable.rs:20-44;
    # with a typed schema the remaining per-turn failure mode is time
    # going backwards within a conversation). NULL ts never hits (SQL
    # lag semantics).
    "ts_regression": True,
    "pii": ["email", "ssn", "uk_mobile", "us_phone"],
    "profanity": list(corpora.PROFANITY),
    "all_stopwords": True,
    "stopword_fraction": 0.85,
    "rare_signature": 1,
    # assistant-turn refusal/template phrase panel (rules/refusal.py):
    # off by default; True => DEFAULT_REFUSAL_PHRASES, or a phrase list.
    "refusal": None,
    # mixed-script confusable words (rules/homoglyph.py): off by
    # default; True enables the flag rule (explicit Latin/Cyrillic/
    # Greek ranges — identical in Spark, DuckDB, and pandas re).
    "homoglyph": None,
    "langid": {"allowed": ["en"], "min_margin": 0.15},
    "perplexity": {"max": 30000.0},
    # fastText-style trained quality model (qamd_spark/classifier.py):
    # disabled by default — enabling adds a qc_score column and a drop
    # rule. min_score None ⇒ use the model's calibrated threshold.
    "quality_classifier": None,
    # zlib-compressibility band (ops/text._compression_batch): disabled
    # by default — enabling adds a cr_ratio column and a drop rule.
    # Turns shorter than min_bytes always pass (zlib overhead dominates
    # short strings and would flag every terse-but-fine turn).
    "compression": None,
}

# resolved defaults for an enabled `compression: {}` (each key overridable)
COMPRESSION_DEFAULTS = {"min_ratio": 0.25, "max_ratio": 1.10, "min_bytes": 64}


def compression_params(settings_value: dict) -> tuple[float, float, int]:
    """(min_ratio, max_ratio, min_bytes) with defaults applied — the ONE
    resolution used by the pipeline flags, the scorer, and the oracle."""
    v = {**COMPRESSION_DEFAULTS, **(settings_value or {})}
    return float(v["min_ratio"]), float(v["max_ratio"]), int(v["min_bytes"])


class ConfigError(ValueError):
    pass


def _resolve_word_source(name: str, val):
    """Accept an inline word list OR a ``{file: path}`` /
    ``{files: [paths]}`` spec — the reference's dictionary-from-file
    mechanism (src/check/dictionary.rs:46-56 stitches newline-split
    dictionary files listed in the YAML; default.yaml dictionary
    settings). Files are read ONCE at config build and the resolved
    words land in ``settings`` / ``stopwords``, so
    checkpoint.config_fingerprint hashes the CONTENT: editing a
    dictionary file invalidates resume manifests by construction (no
    separate mtime/hash bookkeeping to go stale). Blank lines are
    dropped (the reference's empty-word predicate short-circuits them
    anyway, dictionary.rs:13-24); surrounding whitespace is stripped."""
    if isinstance(val, dict) and ("file" in val or "files" in val):
        unknown = set(val) - {"file", "files"}
        if unknown:
            raise ConfigError(f"{name}: unknown file-spec keys {sorted(unknown)}")
        paths = list(val.get("files") or [])
        if not paths:
            if "file" not in val:
                # {'files': []} with no 'file' fallback: a malformed spec,
                # not a KeyError (ADVICE r4) — every other bad-spec path
                # raises ConfigError, so must this one.
                raise ConfigError(
                    f"{name}: file-spec needs a non-empty 'files' list or a 'file' key"
                )
            paths = [val["file"]]
        words: list[str] = []
        for p in paths:
            try:
                with open(p, encoding="utf-8") as f:
                    raw = f.read()
            except OSError as e:
                raise ConfigError(f"{name}: cannot read dictionary file {p!r}: {e}") from e
            words.extend(w for w in (ln.strip() for ln in raw.split("\n")) if w)
        if not words:
            raise ConfigError(f"{name}: dictionary file(s) {paths} contain no words")
        return words
    return val


@dataclass
class QamdConfig:
    """Validated runtime config. ``settings[name] is None`` ⇒ rule skipped."""

    settings: dict[str, Any] = field(default_factory=lambda: dict(DEFAULT_SETTINGS))
    actions: dict[str, str] = field(default_factory=dict)
    stopwords: list[str] = field(default_factory=lambda: list(corpora.STOPWORDS))
    n_buckets: int = 64
    salt_buckets: int = 8

    def __post_init__(self):
        # dictionary-from-file resolution (reference
        # src/check/dictionary.rs:46-56): the three word-list inputs a
        # real deployment sizes beyond inline YAML — spellcheck vocab,
        # stopwords, toxicity lexicon — accept {file:}/{files:} specs
        if isinstance(self.stopwords, dict):
            self.stopwords = list(_resolve_word_source("stopwords", self.stopwords))
        s = self.settings
        if s.get("profanity") is not None:
            s["profanity"] = _resolve_word_source("profanity", s["profanity"])
        ov = s.get("oov_fraction")
        if isinstance(ov, dict) and isinstance(ov.get("vocab"), dict):
            s["oov_fraction"] = {
                **ov,
                "vocab": _resolve_word_source("oov_fraction.vocab", ov["vocab"]),
            }
        self.validate()

    # --- derived, cached-ish accessors used by turnscore -------------
    @property
    def odd_chars(self) -> list[str]:
        return self.settings.get("odd_characters") or DEFAULT_ODD_CHARS

    @property
    def stopword_set(self) -> frozenset:
        return frozenset(self.stopwords)

    @property
    def pii_pattern_names(self) -> list[str]:
        return self.settings.get("pii") or []

    @property
    def profanity_rx(self):
        lex = self.settings.get("profanity")
        if not lex:
            return None
        from qamd_spark.rules.pii import profanity_pattern

        return profanity_pattern(lex)

    @property
    def vocab_set(self):
        s = self.settings.get("oov_fraction")
        return frozenset(s["vocab"]) if s else None

    @property
    def lang_min_margin(self) -> float:
        s = self.settings.get("langid") or {}
        return float(s.get("min_margin", 0.0))

    def ensure_qc_model(self) -> tuple:
        """Resolve the quality-classifier model ONCE, in the caller's
        process (driver or oracle), and pin it on the config object so
        it pickles into task closures. Executors must never train the
        model themselves (BLAS thread-pool nondeterminism — see
        qamd_spark/classifier.py); they read this attribute off the
        shipped config. Returns (weights, bias, threshold) with
        ``min_score`` overriding the calibrated threshold."""
        m = self.__dict__.get("_qc_model")
        if m is None:
            from qamd_spark import classifier

            w, b, cal = classifier.get_model()
            s = self.settings.get("quality_classifier") or {}
            ms = s.get("min_score")
            m = (w, b, cal if ms is None else float(ms))
            self.__dict__["_qc_model"] = m
        return m

    def enabled(self, name: str) -> bool:
        return self.settings.get(name) is not None

    def action(self, name: str) -> str:
        return self.actions.get(name, RULE_BY_NAME[name].action)

    def enabled_rules(self) -> list[RuleSpec]:
        return [r for r in RULE_REGISTRY if self.enabled(r.name)]

    def drop_rules(self) -> list[str]:
        return [r.name for r in self.enabled_rules() if self.action(r.name) == "drop"]

    # --- validation (bounds mirrored from reference src/config.rs:90-246)
    def validate(self) -> None:
        s = self.settings
        unknown = set(s) - set(RULE_BY_NAME)
        if unknown:
            raise ConfigError(f"unknown rules in config: {sorted(unknown)}")
        for name, val in s.items():
            if val is None:
                continue
            if name in ("bad_conv_id",):
                try:
                    re.compile(val)
                except re.error as e:
                    raise ConfigError(f"{name}: invalid regex: {e}") from e
            if name in ("role_vocabulary", "odd_characters", "pii", "profanity",
                        "sentinel_text"):
                if not isinstance(val, list) or not val:
                    raise ConfigError(f"{name}: must be a non-empty list")
            if name == "length_bounds":
                if not (0 <= val["min"] <= val["max"]):
                    raise ConfigError("length_bounds: need 0 <= min <= max")
            if name == "field_length":
                if int(val["max"]) < 1:
                    raise ConfigError("field_length: max must be >= 1")
            if name in ("odd_char_ratio", "stopword_fraction"):
                if not (0.0 < float(val) <= 1.0):
                    raise ConfigError(f"{name}: must be in (0, 1]")
            if name == "repetition":
                if not (0.0 < float(val["max"]) <= 1.0) or int(val.get("min_tokens", 1)) < 1:
                    raise ConfigError("repetition: max in (0,1], min_tokens >= 1")
            if name == "oov_fraction":
                if not val.get("vocab") or not (0.0 <= float(val["max"]) <= 1.0):
                    raise ConfigError("oov_fraction: need non-empty vocab, max in [0,1]")
            if name == "custom_regex":
                if not isinstance(val, list) or not val:
                    raise ConfigError("custom_regex: must be a non-empty list")
                for p in val:
                    try:
                        re.compile(p)
                    except re.error as e:
                        raise ConfigError(f"custom_regex: invalid regex {p!r}: {e}") from e
            if name == "conv_missing_fraction":
                # reference bound: threshold in (0,100] (src/config.rs:201-208)
                if not (0 < float(val) <= 100):
                    raise ConfigError(f"{name}: must be in (0, 100]")
            if name == "rare_signature":
                if int(val) < 1:
                    raise ConfigError(f"{name}: must be >= 1")
            if name == "perplexity" and float(val["max"]) <= 0:
                raise ConfigError("perplexity.max must be > 0")
            if name == "refusal":
                if val is not True and (not isinstance(val, list) or not val):
                    raise ConfigError(
                        "refusal: must be True (default panel) or a "
                        "non-empty phrase list"
                    )
            if name == "homoglyph" and val is not True:
                raise ConfigError("homoglyph: must be True when present")
            if name == "quality_classifier":
                if not isinstance(val, dict):
                    raise ConfigError("quality_classifier: must be a dict")
                ms = val.get("min_score")
                if ms is not None and not (0.0 < float(ms) < 1.0):
                    raise ConfigError(
                        "quality_classifier.min_score must be in (0, 1)"
                    )
            if name == "compression":
                if not isinstance(val, dict):
                    raise ConfigError("compression: must be a dict")
                unknown = set(val) - set(COMPRESSION_DEFAULTS)
                if unknown:
                    # a typoed tunable must not silently revert to the
                    # default — that drops documents the user configured
                    # to keep, with no diagnostic
                    raise ConfigError(
                        f"compression: unknown keys {sorted(unknown)} "
                        f"(allowed: {sorted(COMPRESSION_DEFAULTS)})"
                    )
                lo, hi, mb = compression_params(val)
                if not (0.0 < lo < hi):
                    raise ConfigError(
                        "compression: need 0 < min_ratio < max_ratio"
                    )
                if mb < 1:
                    raise ConfigError("compression.min_bytes must be >= 1")
        for name, act in self.actions.items():
            if act not in ACTIONS:
                raise ConfigError(f"{name}: invalid action {act!r}")
        if self.n_buckets < 1 or self.salt_buckets < 1:
            raise ConfigError("n_buckets and salt_buckets must be >= 1")


def from_yaml(path_or_str: str) -> QamdConfig:
    """Load the 5-section YAML (same {setting, desc} shape as the
    reference's default.yaml). Rules absent from the file are DISABLED
    (mirroring optional-setting semantics, reference src/config.rs:62-71)."""
    if not _HAVE_YAML:  # pragma: no cover
        raise ConfigError("pyyaml not available; use QamdConfig() directly")
    import os

    raw = path_or_str
    if os.path.exists(path_or_str):
        with open(path_or_str) as f:
            raw = f.read()
    doc = yaml.safe_load(raw) or {}
    settings: dict[str, Any] = {name: None for name in RULE_BY_NAME}
    actions: dict[str, str] = {}
    extra: dict[str, Any] = {}
    for section, rules in doc.items():
        if section == "engine":
            extra = rules or {}
            continue
        if section not in CATEGORIES:
            raise ConfigError(f"unknown config section: {section}")
        for name, body in (rules or {}).items():
            if name not in RULE_BY_NAME:
                raise ConfigError(f"unknown rule: {name}")
            if RULE_BY_NAME[name].category != section:
                raise ConfigError(f"rule {name} listed under wrong section {section}")
            settings[name] = body.get("setting")
            if "action" in body:
                actions[name] = body["action"]
    kw: dict[str, Any] = {}
    if "stopwords" in extra:
        sw = extra["stopwords"]
        # {file:}/{files:} specs pass through for __post_init__ to resolve
        kw["stopwords"] = sw if isinstance(sw, dict) else list(sw)
    if "n_buckets" in extra:
        kw["n_buckets"] = int(extra["n_buckets"])
    if "salt_buckets" in extra:
        kw["salt_buckets"] = int(extra["salt_buckets"])
    return QamdConfig(settings=settings, actions=actions, **kw)
