"""Frozen reference copy of the regex + gazetteer BIO tagger, kept as a test
oracle for the differential tests in tests/test_tagger_diff.py.

Everything below this docstring is the tagger module verbatim as it stood
before its span search was rewritten for speed (per-position regex scans,
an all()-over-spans overlap check, a per-token label walk). Never import it
from the package, and never edit it to make a differential test pass: a
mismatch means the live tagger changed behaviour.
"""

from __future__ import annotations

import re
WORD_RE = re.compile(r"\S+")
TRAILING_PUNCT = ".,!?;:"
ABBREVIATIONS = frozenset(
    {"Dr.", "Mr.", "Mrs.", "Ms.", "Prof.", "Jr.", "Sr.", "St.", "vs.", "etc."}
)

# --- span regexes (applied to raw text; longest-class-first precedence) ----
EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
URL_RE = re.compile(r"(?:https?://|www\.)[^\s]+?(?=[.,;:!?]?(?:\s|$))")
# US-style phone: 415-555-9876 / (555) 123-4567 / +1 212 555 1234
PHONE_RE = re.compile(
    r"(?:\+?1[ .-])?(?:\(\d{3}\)[ .-]?|\d{3}[ .-])\d{3}[ .-]\d{4}\b"
)
# SSN-style 123-45-6789, long digit runs, or explicit id tokens like AB-491823
ID_RE = re.compile(r"\b\d{3}-\d{2}-\d{4}\b|\b\d{8,}\b|\b[A-Z]{2}-\d{6,}\b")
STREET_SUFFIX = (
    "St|Street|Ave|Avenue|Rd|Road|Blvd|Boulevard|Ln|Lane|Drive|Way|Court|Ct|Plaza|Square"
)
ADDRESS_RE = re.compile(
    r"\b\d{1,5} (?:[A-Z][a-z]+ ){1,3}(?:%s)\b\.?" % STREET_SUFFIX
)
USERNAME_RE = re.compile(r"(?<![\w.])@[A-Za-z][A-Za-z0-9_]{2,}\b|\bu/[A-Za-z0-9_]{3,}\b")

# Gazetteer of given names (NAME_STUDENT). Fixed, versioned: a real pipeline
# broadcasts a large list; semantics are identical.
FIRST_NAMES = frozenset(
    """alice robert gilberto maria john jane carlos ana luis sofia james mary
    linda michael sarah david emma wei li chen yuki hans anna pierre claire
    ahmed fatima olga ivan diego lucia marco paolo kenji aiko raj priya noah
    liam olivia ava elena pablo andres veronica hiroshi mei jean marie
    """.split()
)
HONORIFICS = frozenset({"dr.", "mr.", "mrs.", "ms.", "prof.", "dr", "mr", "mrs", "ms", "prof"})

# The gazetteer binding the span finder actually reads. A production
# pipeline swaps in a large broadcast artifact (artifacts.broadcast_gazetteer
# → udfs.score_batch(gazetteer=...)); the builtin set is the default and
# the golden-test contract.
_GAZETTEER: frozenset = FIRST_NAMES


def set_gazetteer(names) -> frozenset:
    """Rebind the given-name gazetteer (module-level, once per executor
    process — the same state model as the regexes and LM tables). Entries
    must be LOWERCASE (the span finder folds candidate words, not the
    set — artifacts.broadcast_gazetteer lowercases on construction).
    Returns the previous binding so callers can restore it (tests; batch
    scoping in udfs.score_batch)."""
    global _GAZETTEER
    prev = _GAZETTEER
    _GAZETTEER = names if isinstance(names, frozenset) else frozenset(names)
    return prev

# Toxicity gazetteer (north rule: "regex + gazetteer PII/toxicity
# scrubbing"). Deliberately mild, fixed, versioned stand-ins — a production
# pipeline swaps in a real blocklist; semantics (word-boundary match,
# [TOXIC] mask, kept rows otherwise byte-identical) are what's tested.
TOXIC_WORDS = frozenset(
    "damn hell crap idiot stupid moron jerk loser freakin frickin".split()
)
TOXIC_RE = re.compile(
    r"\b(?:%s)\b" % "|".join(sorted(TOXIC_WORDS)), re.IGNORECASE
)

# Tag precedence: earlier wins on overlap.
_SPAN_RES: list[tuple[str, re.Pattern[str]]] = [
    ("EMAIL", EMAIL_RE),
    ("URL_PERSONAL", URL_RE),
    ("ID_NUM", ID_RE),
    ("PHONE_NUM", PHONE_RE),
    ("STREET_ADDRESS", ADDRESS_RE),
    ("USERNAME", USERNAME_RE),
]

# Classes whose vocabulary has no I- form (single-token entities).
_NO_I = frozenset({"EMAIL", "USERNAME"})

_DIGIT_RE = re.compile(r"\d")
_UPPER_RE = re.compile(r"[A-Z]")


# Token = (text, start, end) plain tuple — the hot path constructs ~40 per
# caption, so no NamedTuple (measured ~25% of tokenizer time).
Token = tuple


def word_tokenize(text: str) -> list[tuple[str, int, int]]:
    """Whitespace (text, start, end) tokens; trailing sentence punctuation is
    peeled into its own token unless the word is a known abbreviation.

    Reproduces the reference fixture token shape (constants.py:30-35):
    ``"now." → ["now", "."]`` but ``"Dr." → ["Dr."]``; phone numbers and
    emails stay intact.
    """
    out: list[tuple[str, int, int]] = []
    append = out.append
    punct = TRAILING_PUNCT
    abbrevs = ABBREVIATIONS
    for m in WORD_RE.finditer(text):
        s, me = m.span()
        e = me
        # peel trailing punctuation by index; slice only when a punct char
        # is actually present (the abbreviation check needs the string)
        while e - s > 1 and text[e - 1] in punct:
            if text[s:e] in abbrevs:
                break
            e -= 1
        append((text[s:e], s, e))
        for i in range(e, me):
            append((text[i], i, i + 1))
    return out


def find_pii_spans(
    text: str, toks: list[tuple[str, int, int]] | None = None
) -> list[tuple[int, int, str]]:
    """All PII character spans as (start, end, class), non-overlapping,
    precedence EMAIL > URL > ID > PHONE > ADDRESS > USERNAME > NAME.
    ``toks`` may be passed to reuse an existing word_tokenize result."""
    spans: list[tuple[int, int, str]] = []

    def free(s: int, e: int) -> bool:
        return all(e <= s2 or s2e <= s for s2, s2e, _ in spans)

    # Cheap necessary-condition gates: most captions are clean, so skip
    # whole pattern classes when their trigger characters are absent.
    # (Each gate is a strict necessary condition of its regex — results
    # are bit-identical to the ungated scan; golden/property-tested.)
    has_digit = _DIGIT_RE.search(text) is not None
    has_at = "@" in text
    gates = {
        "EMAIL": has_at,
        "URL_PERSONAL": "http" in text or "www." in text,
        "ID_NUM": has_digit,
        "PHONE_NUM": has_digit,
        "STREET_ADDRESS": has_digit,
        "USERNAME": has_at or "u/" in text,
    }
    for cls, pat in _SPAN_RES:
        if not gates[cls]:
            continue
        for m in pat.finditer(text):
            if free(m.start(), m.end()):
                spans.append((m.start(), m.end(), cls))

    if _UPPER_RE.search(text) is None:
        spans.sort()
        return spans  # gazetteer names require a capitalized word

    # Gazetteer names: a known given name (capitalized) optionally followed
    # by further capitalized words (surnames) extends the span. An honorific
    # immediately before is NOT part of the span (fixture: "Dr." is O).
    if toks is None:
        toks = word_tokenize(text)
    i = 0
    while i < len(toks):
        w, ts, te = toks[i]
        if w[:1].isupper() and w.lower() in _GAZETTEER and free(ts, te):
            j = i + 1
            end = te
            while j < len(toks):
                wj, sj, ej = toks[j]
                if not (
                    wj[:1].isupper()
                    and wj.replace("-", "").isalpha()
                    and wj.lower() not in HONORIFICS
                    and free(sj, ej)
                    and sj == toks[j - 1][2] + 1  # contiguous words
                ):
                    break
                end = ej
                j += 1
            spans.append((ts, end, "NAME_STUDENT"))
            i = j
        else:
            i += 1

    spans.sort()
    return spans


def _label_tokens(toks: list[tuple[str, int, int]], spans) -> list[str]:
    labels = ["O"] * len(toks)
    si = 0
    prev_span = -1
    for ti, (_, tstart, tend) in enumerate(toks):
        while si < len(spans) and spans[si][1] <= tstart:
            si += 1
        if si < len(spans):
            s, e, cls = spans[si]
            if tstart < e and tend > s:
                if si != prev_span or cls in _NO_I:
                    labels[ti] = "B-" + cls
                else:
                    labels[ti] = "I-" + cls
                prev_span = si
    return labels


def _splice(text: str, spans) -> str:
    if not spans:
        return text
    parts: list[str] = []
    pos = 0
    for s, e, cls in spans:
        parts.append(text[pos:s])
        parts.append("[" + cls + "]")
        pos = e
    parts.append(text[pos:])
    return "".join(parts)


def tag(text: str) -> tuple[list[str], list[str]]:
    """Word tokens + aligned BIO labels for ``text``.

    First token overlapping a span gets ``B-<class>``, subsequent ones
    ``I-<class>`` (classes without an I- form in the 13-label vocabulary —
    EMAIL, USERNAME — repeat ``B-``, though spans for those are single-token
    by construction).
    """
    toks = word_tokenize(text)
    spans = find_pii_spans(text, toks)
    return [t[0] for t in toks], _label_tokens(toks, spans)


def find_toxic_spans(text: str, pii_spans) -> list[tuple[int, int, str]]:
    """Toxicity gazetteer spans (class TOXIC), skipping anything already
    claimed by a PII span. Not part of the 13-label BIO vocabulary — toxic
    words stay labeled O; scrubbing masks them with [TOXIC]."""
    out = []
    for m in TOXIC_RE.finditer(text):
        if all(m.end() <= s or e <= m.start() for s, e, _ in pii_spans):
            out.append((m.start(), m.end(), "TOXIC"))
    return out


# any char that lets a rule fire: trailing punct to peel, digits/@ for the
# PII regexes (\d — Unicode-aware, matching exactly what PHONE/ID/ADDRESS
# can match), uppercase for the gazetteer
_TRIGGER_RE = re.compile(r"[.,!?;:@A-Z]|\d")


def _is_plain(text: str) -> bool:
    """True when NO tagger rule can fire: no trailing punctuation to peel,
    no character any PII regex requires (digits, '@', uppercase for
    gazetteer names), no url/handle substring, no toxic match. Each
    check is a strict necessary condition of the rule it gates, so the
    fast path is bit-identical to the full path (property-tested).

    The toxic gate: re.IGNORECASE matches under Unicode case folding
    (e.g. U+017F 'ſ' matches 's'), which str.lower() does not reproduce —
    so a bare lower()-substring gate would skip scrubbing for case-fold
    homoglyph inputs like 'ſtupid' (regression-tested). Running TOXIC_RE
    here instead is exact but ~3x the whole gate's cost (11.5µs vs 4µs
    measured — the gate IS the hot path for plain captions), so: non-ASCII
    text falls through to the full path (exotic case folding only exists
    outside ASCII; such rows are rare in a caption corpus), and for ASCII
    text the lower()-substring check is exactly the necessary condition
    (ASCII IGNORECASE ≡ lowercase comparison)."""
    if _TRIGGER_RE.search(text) is not None:
        return False
    if "http" in text or "www." in text or "u/" in text:
        return False
    if not text.isascii():
        return False
    lower = text.lower()
    return not any(w in lower for w in TOXIC_WORDS)


def tag_and_scrub(text: str) -> tuple[list[str], list[str], str, int, int]:
    """Fused tag + scrub: tokenization and span search run ONCE (the Arrow
    UDF hot path). Returns (tokens, labels, scrubbed, n_pii, n_toxic);
    tokens/labels/PII-scrub identical to calling tag() and scrub(), with
    toxicity masking applied on top of the PII splice."""
    if _is_plain(text):
        # str.split() == \S+ finditer when nothing needs peeling; no rule
        # can produce a span, so labels are all O and text is untouched
        toks_fast = text.split()
        return toks_fast, ["O"] * len(toks_fast), text, 0, 0
    toks = word_tokenize(text)
    spans = find_pii_spans(text, toks)
    toxic = find_toxic_spans(text, spans)
    all_spans = sorted(spans + toxic)
    return (
        [t[0] for t in toks],
        _label_tokens(toks, spans),
        _splice(text, all_spans),
        len(spans),
        len(toxic),
    )


def scrub(text: str) -> tuple[str, int]:
    """Replace every PII span with ``[<CLASS>]``; returns (scrubbed, n_spans).

    Splices on the original string, so PII-free text is returned
    byte-identical (caption-preservation invariant for kept rows).
    """
    spans = find_pii_spans(text)
    return _splice(text, spans), len(spans)
