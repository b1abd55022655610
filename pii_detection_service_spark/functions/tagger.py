"""Regex + gazetteer BIO PII tagger + scrubber (A12-equivalent).

Replaces the reference's DeBERTa token-classification forward pass
(predictor.py:65-92) with deterministic span tagging over the same 13-label
vocabulary (textref.LABELS). Operates on *word tokens with character
offsets* so the scrubber can splice placeholders into the original text
exactly — kept rows with no PII are byte-identical.

Word tokenization reproduces the reference's sample fixture token shape
(constants.py:30-35: whitespace split, trailing sentence punctuation
separated, honorific abbreviations like "Dr." kept intact).

Cost model: one C regex scan per PII class, and Python work per match on
top of it. The scans skip ahead to likely match starts: PHONE, ID, ADDRESS
and USERNAME open with a single character class of their possible first
characters, and EMAIL is scanned only inside the whitespace-free runs that
hold an '@'. In ASCII text the toxic words are found by substring search.
Claimed spans live in sorted start/end lists, so the precedence check, the
gazetteer name extension and the toxic filter cost a bisect per candidate,
and labels are assigned per span by bisecting into the token offsets. What
remains per token is the tokenizer (``str.split`` plus ``str.find``) and
one capitalisation test in the gazetteer walk. Outputs are identical to the
per-position, per-token formulation kept in tests/tagger_ref.py.

Pure Python on purpose: called per-batch from Arrow UDFs (pandas Series of
strings in, lists out) and directly from golden tests.
"""

from __future__ import annotations

import re
import string
from bisect import bisect_left, bisect_right

TRAILING_PUNCT = ".,!?;:"
ABBREVIATIONS = frozenset(
    {"Dr.", "Mr.", "Mrs.", "Ms.", "Prof.", "Jr.", "Sr.", "St.", "vs.", "etc."}
)

# --- span regexes (applied to raw text; longest-class-first precedence) ----
# An email can start at almost any character, so _email_matches scans only
# the whitespace-free runs that hold an '@'.
EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
URL_RE = re.compile(r"(?:https?://|www\.)[^\s]+?(?=[.,;:!?]?(?:\s|$))")
# PHONE, ID, ADDRESS and USERNAME open with a single character class (their
# possible first characters) and check what precedes that character with a
# lookbehind: the regex engine then skips straight to candidate starts
# instead of attempting a match at every position. Each matches exactly the
# same spans as the plain form noted above it.
#
# US-style phone: 415-555-9876 / (555) 123-4567 / +1 212 555 1234
# plain form: (?:\+?1[ .-])?(?:\(\d{3}\)[ .-]?|\d{3}[ .-])\d{3}[ .-]\d{4}\b
# The alternatives are that pattern's backtracking order, one per possible
# first character: '+' of '+1', '1', '(' and any digit.
_PHONE_AREA = r"(?:\(\d{3}\)[ .-]?|\d{3}[ .-])"
PHONE_RE = re.compile(
    r"[+(\d](?:(?<=\+)1[ .-]%s|(?<=1)[ .-]%s|(?<=\()\d{3}\)[ .-]?|(?<=\d)\d{2}[ .-])"
    r"\d{3}[ .-]\d{4}\b" % (_PHONE_AREA, _PHONE_AREA)
)
# SSN-style 123-45-6789, long digit runs, or explicit id tokens like AB-491823
# plain form: \b\d{3}-\d{2}-\d{4}\b|\b\d{8,}\b|\b[A-Z]{2}-\d{6,}\b
ID_RE = re.compile(
    r"[\dA-Z](?:(?<=\b\d)(?:\d{2}-\d{2}-\d{4}\b|\d{7,}\b)|(?<=\b[A-Z])[A-Z]-\d{6,}\b)"
)
STREET_SUFFIX = (
    "St|Street|Ave|Avenue|Rd|Road|Blvd|Boulevard|Ln|Lane|Drive|Way|Court|Ct|Plaza|Square"
)
# plain form: \b\d{1,5} (?:[A-Z][a-z]+ ){1,3}(?:SUFFIX)\b\.?
ADDRESS_RE = re.compile(
    r"\d(?<=\b\d)\d{0,4} (?:[A-Z][a-z]+ ){1,3}(?:%s)\b\.?" % STREET_SUFFIX
)
# plain form: (?<![\w.])@[A-Za-z][A-Za-z0-9_]{2,}\b|\bu/[A-Za-z0-9_]{3,}\b
USERNAME_RE = re.compile(
    r"[@u](?:(?<=(?<![\w.])@)[A-Za-z][A-Za-z0-9_]{2,}\b|(?<=\bu)/[A-Za-z0-9_]{3,}\b)"
)

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

# The gazetteer the span finder reads when a caller passes none. Callers
# with a large broadcast artifact pass it as ``gazetteer=``
# (artifacts.broadcast_gazetteer → udfs.score_batch); the builtin set is
# the default and the golden-test contract.
_GAZETTEER: frozenset = FIRST_NAMES


def set_gazetteer(names) -> frozenset:
    """Rebind the default given-name gazetteer (module-level, for the whole
    process). Entries must be LOWERCASE (the span finder folds candidate
    words, not the set — artifacts.broadcast_gazetteer lowercases on
    construction). Returns the previous binding so callers can restore it.
    Prefer passing ``gazetteer=`` to the tagging functions, which touches
    no shared state."""
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
_ASCII_WORD = frozenset(string.ascii_letters + string.digits + "_")

# Classes whose vocabulary has no I- form (single-token entities).
_NO_I = frozenset({"EMAIL", "USERNAME"})
_CLASSES = (
    "EMAIL", "URL_PERSONAL", "ID_NUM", "PHONE_NUM", "STREET_ADDRESS", "USERNAME",
    "NAME_STUDENT",
)
_B_LABEL = {cls: "B-" + cls for cls in _CLASSES}
_I_LABEL = {cls: ("B-" if cls in _NO_I else "I-") + cls for cls in _CLASSES}

_DIGIT_RE = re.compile(r"\d")
_UPPER_RE = re.compile(r"[A-Z]")
_NONSPACE_RE = re.compile(r"\S*")


def _tokenize(text: str) -> tuple[list[str], list[int], list[int]]:
    """word_tokenize as three parallel lists: token texts, starts, ends."""
    words: list[str] = []
    starts: list[int] = []
    ends: list[int] = []
    add_w, add_s, add_e = words.append, starts.append, ends.append
    punct = TRAILING_PUNCT
    abbrevs = ABBREVIATIONS
    find = text.find
    pos = 0
    for w in text.split():
        # split() and \S+ agree on whitespace; the word's first occurrence
        # after the previous one is its own position
        s = find(w, pos)
        pos = s + len(w)
        if w[-1] not in punct:
            add_w(w)
            add_s(s)
            add_e(pos)
            continue
        k = len(w)
        while k > 1 and w[k - 1] in punct:
            if w[:k] in abbrevs:
                break
            k -= 1
        add_w(w[:k])
        add_s(s)
        add_e(s + k)
        for i in range(s + k, pos):
            add_w(text[i])
            add_s(i)
            add_e(i + 1)
    return words, starts, ends


def word_tokenize(text: str) -> list[tuple[str, int, int]]:
    """Whitespace (text, start, end) tokens; trailing sentence punctuation is
    peeled into its own token unless the word is a known abbreviation.

    Reproduces the reference fixture token shape (constants.py:30-35):
    ``"now." → ["now", "."]`` but ``"Dr." → ["Dr."]``; phone numbers and
    emails stay intact.
    """
    return list(zip(*_tokenize(text)))


def _slot(starts: list[int], ends: list[int], s: int, e: int) -> int:
    """Insertion index for [s, e) among sorted, non-overlapping spans given
    as start and end lists, or -1 when it overlaps one of them."""
    i = bisect_right(ends, s)  # first span ending after s
    if i < len(starts) and starts[i] < e:
        return -1
    return i


class _SpanIndex:
    """Claimed, non-overlapping spans kept sorted as parallel start/end
    lists, so an overlap test is one bisect rather than a pass over every
    span."""

    __slots__ = ("starts", "ends", "spans")

    def __init__(self) -> None:
        self.starts: list[int] = []
        self.ends: list[int] = []
        self.spans: list[tuple[int, int, str]] = []

    def slot(self, s: int, e: int) -> int:
        return _slot(self.starts, self.ends, s, e)

    def claim(self, s: int, e: int, cls: str) -> None:
        i = _slot(self.starts, self.ends, s, e)
        if i >= 0:
            self.starts.insert(i, s)
            self.ends.insert(i, e)
            self.spans.insert(i, (s, e, cls))


def _spans(pat: re.Pattern[str], text: str) -> list[tuple[int, int]]:
    return [m.span() for m in pat.finditer(text)]


def _email_matches(text: str, starts: list[int]) -> list[tuple[int, int]]:
    """``_spans(EMAIL_RE, text)``, scanning only the whitespace-free runs
    that hold an '@', since every match lies inside one. Each run is
    scanned as ``finditer(text, run_start, run_end)``; the pattern has no
    lookaround or anchor that could see past the run. '@' is not trailing
    punctuation, so the token holding it (found by bisecting the token
    ``starts`` of ``text``) starts its run."""
    out: list[tuple[int, int]] = []
    at = text.find("@")
    while at >= 0:
        run_start = starts[bisect_right(starts, at) - 1]
        run_end = _NONSPACE_RE.match(text, at).end()
        out += [m.span() for m in EMAIL_RE.finditer(text, run_start, run_end)]
        at = text.find("@", run_end)
    return out


def _pii_spans(text: str, words, starts, ends, gazetteer) -> list[tuple[int, int, str]]:
    # Most captions are clean: a class whose trigger characters are absent
    # is not scanned (each gate is a strict necessary condition of its
    # regex, so results equal a full scan).
    has_digit = _DIGIT_RE.search(text) is not None
    has_at = "@" in text
    # in precedence order: an earlier class wins an overlap
    found = (
        ("EMAIL", _email_matches(text, starts) if has_at else ()),
        ("URL_PERSONAL", _spans(URL_RE, text) if "http" in text or "www." in text else ()),
        ("ID_NUM", _spans(ID_RE, text) if has_digit else ()),
        ("PHONE_NUM", _spans(PHONE_RE, text) if has_digit else ()),
        ("STREET_ADDRESS", _spans(ADDRESS_RE, text) if has_digit else ()),
        ("USERNAME", _spans(USERNAME_RE, text) if has_at or "u/" in text else ()),
    )
    idx = _SpanIndex()
    claim = idx.claim
    for cls, matches in found:
        for s, e in matches:
            claim(s, e, cls)
    spans = idx.spans

    if _UPPER_RE.search(text) is None:
        return spans  # gazetteer names require a capitalized word

    # Gazetteer names: a known given name (capitalized) optionally followed
    # by further capitalized words (surnames) extends the span. An honorific
    # immediately before is NOT part of the span (fixture: "Dr." is O).
    # Names never overlap each other (the walk resumes after a name's last
    # token), so only the regex spans in ``idx`` can block one.
    gaz = _GAZETTEER if gazetteer is None else gazetteer
    slot = idx.slot
    n = len(words)
    names = []
    nxt = 0
    for i, w in enumerate(words):
        if i < nxt or not w[0].isupper() or w.lower() not in gaz:
            continue
        if slot(starts[i], ends[i]) < 0:
            continue
        j = i + 1
        while j < n:
            wj = words[j]
            if not (
                starts[j] == ends[j - 1] + 1  # contiguous words
                and wj[0].isupper()
                and wj.replace("-", "").isalpha()
                and wj.lower() not in HONORIFICS
                # an all-letter word can still hold a regex span that starts
                # inside it: the URL in "Alice Xwww.." starts at "www"
                and slot(starts[j], ends[j]) >= 0
            ):
                break
            j += 1
        names.append((starts[i], ends[j - 1], "NAME_STUDENT"))
        nxt = j
    if names:
        spans = sorted(spans + names)
    return spans


def find_pii_spans(text: str, gazetteer=None) -> list[tuple[int, int, str]]:
    """All PII character spans as (start, end, class), non-overlapping,
    sorted, precedence EMAIL > URL > ID > PHONE > ADDRESS > USERNAME > NAME.
    ``gazetteer`` (lowercase names) replaces the default given-name set."""
    return _pii_spans(text, *_tokenize(text), gazetteer)


def _label_tokens(starts: list[int], ends: list[int], spans) -> list[str]:
    """BIO labels: each token takes the first span it overlaps; that span's
    first such token gets B-, the rest I-."""
    labels = ["O"] * len(starts)
    last = -1  # highest token index labelled so far
    for s, e, cls in spans:
        i = max(bisect_right(ends, s), last + 1)  # first token ending after s
        j = bisect_left(starts, e)  # first token starting at or after e
        if i < j:
            labels[i] = _B_LABEL[cls]
            if j - i > 1:
                labels[i + 1 : j] = [_I_LABEL[cls]] * (j - i - 1)
            last = j - 1
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


def _tag_spans(text: str, gazetteer) -> tuple[list[str], list[str], list]:
    words, starts, ends = _tokenize(text)
    spans = _pii_spans(text, words, starts, ends, gazetteer)
    return words, _label_tokens(starts, ends, spans), spans


def tag(text: str, gazetteer=None) -> tuple[list[str], list[str]]:
    """Word tokens + aligned BIO labels for ``text``.

    First token overlapping a span gets ``B-<class>``, subsequent ones
    ``I-<class>`` (classes without an I- form in the 13-label vocabulary —
    EMAIL, USERNAME — repeat ``B-``, though spans for those are single-token
    by construction).
    """
    words, labels, _ = _tag_spans(text, gazetteer)
    return words, labels


def tag_and_scrub_pii(text: str) -> tuple[list[str], list[str], str, int]:
    """tag() and scrub() from one tokenize + span pass: (tokens, labels,
    scrubbed, n_pii), with no toxicity masking."""
    words, labels, spans = _tag_spans(text, None)
    return words, labels, _splice(text, spans), len(spans)


def _toxic_matches(text: str) -> list[tuple[int, int]]:
    """TOXIC_RE's match spans, in order."""
    if not text.isascii():
        return [m.span() for m in TOXIC_RE.finditer(text)]
    # On ASCII text IGNORECASE is plain lowercasing and \w is
    # [A-Za-z0-9_]. Every toxic word is all letters, so a match is a whole
    # \w run equal to a toxic word: find each word and check both edges.
    low = text.lower()
    n = len(low)
    out = []
    for w in TOXIC_WORDS:
        i = low.find(w)
        while i >= 0:
            j = i + len(w)
            if (i == 0 or low[i - 1] not in _ASCII_WORD) and (
                j == n or low[j] not in _ASCII_WORD
            ):
                out.append((i, j))
            # no valid match starts inside a run of letters
            i = low.find(w, j)
    out.sort()
    return out


def find_toxic_spans(text: str, pii_spans) -> list[tuple[int, int, str]]:
    """Toxicity gazetteer spans (class TOXIC), skipping anything already
    claimed by a PII span. Not part of the 13-label BIO vocabulary — toxic
    words stay labeled O; scrubbing masks them with [TOXIC]."""
    starts = [s for s, _, _ in pii_spans]
    ends = [e for _, e, _ in pii_spans]
    out = []
    for s, e in _toxic_matches(text):
        if _slot(starts, ends, s, e) >= 0:
            out.append((s, e, "TOXIC"))
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

    Cost: the full path is one anchored C regex scan per PII class plus
    Python work per match and per token, so for long captions dense in PII
    it costs hundreds of µs; this gate is a few µs, and on the plain rows
    it admits it is the whole tagger.

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


def tag_and_scrub(text: str, gazetteer=None) -> tuple[list[str], list[str], str, int, int]:
    """Fused tag + scrub: tokenization and span search run ONCE (the Arrow
    UDF hot path). Returns (tokens, labels, scrubbed, n_pii, n_toxic);
    tokens/labels/PII-scrub identical to calling tag() and scrub(), with
    toxicity masking applied on top of the PII splice."""
    if _is_plain(text):
        # str.split() == \S+ finditer when nothing needs peeling; no rule
        # can produce a span, so labels are all O and text is untouched
        toks_fast = text.split()
        return toks_fast, ["O"] * len(toks_fast), text, 0, 0
    words, labels, spans = _tag_spans(text, gazetteer)
    toxic = find_toxic_spans(text, spans)
    return (
        words,
        labels,
        _splice(text, sorted(spans + toxic)),
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
