"""Differential tests: the live tagger against the frozen reference copy in
tests/tagger_ref.py. Every public output must be identical: tokens with
offsets, BIO labels, PII spans, the PII scrub, and the fused tag+scrub
with toxicity masking and its counts. Inputs come from an adversarial
alphabet (Unicode whitespace, case-fold look-alikes, non-ASCII digits and
capitals, abbreviations before punctuation runs, handle and url triggers)
and from a fixed corpus of long PII-dense captions plus the synth mix."""

import contextlib

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import tagger_ref as ref
from pii_detection_service_spark import udfs
from pii_detection_service_spark.functions import tagger
from pii_detection_service_spark.sources import synth

# Unicode whitespace that str.split() and \s both honour; U+017F long s,
# U+212A Kelvin sign and U+0130 dotted capital I fold onto ASCII letters
# under IGNORECASE; Arabic-Indic and Devanagari digits match \d.
_WHITESPACE = " \t\n\x1c\x1d\x1e\x1f\x85\xa0\u2003\u2009\u2028\u3000"
_LOOKALIKES = "\u017f\u212a\u0130\u0131"
_DIGITS = "0123456789\u0663\u0967"
_CAPITALS = "ABDJKMRSÉÖŽЖΩ"
_ALPHABET = (
    _WHITESPACE + _LOOKALIKES + _DIGITS + _CAPITALS
    + "abcdeghijklmnoprstuwxyz" + ".,!?;:@/()+-_%'"
)
_FRAGMENTS = [
    # abbreviations, alone and before punctuation runs
    "Dr.", "Mr.", "Mrs.", "Prof.", "St.", "vs.", "etc.", "Dr..", "etc...", "Mr.,",
    "...", ".,;", "!?", "Dr", "mrs.",
    # handle / url triggers
    "@", "@bob_x", "u/", "u/carl_99", "http", "http://", "https://a.b/c", "www.",
    "www.x.org.", "a.b@example.com", "x@y@b.co",
    # gazetteer names, surnames, honorifics
    "Alice", "Robert", "Smith", "Smith-Jones", "Élodie", "Mei", "ALICE", "alice",
    # phones, ids, addresses
    "212-555-1234", "(555) 123-4567", "+1 212 555 1234", "1 415.555.9876",
    "123-45-6789", "AB-491823", "123456789", "٣٣٣-٣٣-٣٣٣٣",
    "456 Elm St", "12 Oak Maple Ave.", "9 Pine Ln", "12345 Oak St", "123456 Elm St",
    "7 212-555-1234", "456 Elm St.damn", "34 Maria Lane", "Alice Way", "Alice  Smith", "Alice\u3000Smith",
    # toxic words and their case-fold look-alikes
    "stupid", "\u017ftupid", "DAMN", "\u0130diot", "idiot", "jer\u212a", "hello", "hell",
    "crap.damn",
]

_text = st.lists(
    st.one_of(
        st.sampled_from(_FRAGMENTS),
        st.text(alphabet=_ALPHABET, max_size=6),
        st.sampled_from(_WHITESPACE),
    ),
    max_size=40,
).map("".join)

# lowercase, as artifacts.broadcast_gazetteer builds it; includes names
# outside ASCII and one that is also a common word
_GAZ = frozenset(tagger.FIRST_NAMES | {"élodie", "smith", "\u017ftupid", "hello"})


@contextlib.contextmanager
def _ref_gazetteer(gaz):
    prev = ref.set_gazetteer(gaz) if gaz is not None else None
    try:
        yield
    finally:
        if prev is not None:
            ref.set_gazetteer(prev)


def _assert_same(text, gaz=None):
    with _ref_gazetteer(gaz):
        want = ref.tag_and_scrub(text)
        want_tag = ref.tag(text)
        want_spans = ref.find_pii_spans(text)
        want_toks = ref.word_tokenize(text)
    assert tagger.tag_and_scrub(text, gaz) == want, text
    assert tagger.tag(text, gaz) == want_tag, text
    assert tagger.find_pii_spans(text, gazetteer=gaz) == want_spans, text
    assert tagger.word_tokenize(text) == want_toks, text
    scrubbed, n = ref._splice(text, want_spans), len(want_spans)
    if gaz is None:
        assert tagger.tag_and_scrub_pii(text) == (*want_tag, scrubbed, n), text
        assert tagger.scrub(text) == ref.scrub(text) == (scrubbed, n), text


# One hand-picked case per boundary the rewrite has to get right.
_EDGES = [
    "",
    "Dr.. Alice Smith-Jones, etc... vs.!",
    "456 Elm St.damn and 12345 Oak St but not 123456 Elm St",
    "from 12 Alice Smith St with Alice Smith and 34 Maria Lane Alice",
    "7 212-555-1234 and 1 415.555.9876 and +1 (212) 555-1234",
    "mail x@y@b.co or a.b@example.com,c@d.org now",
    "Alice  Smith and Alice\u3000Smith and Alice Smith",
    "\u017ftupid \u0130diot jer\u212a hellhell hell_o _damn damn_ DAMN",
    "www.x.org. http://a.b/c, u/carl_99 @bob_x x@bob_x .@bob_x",
    "Alice Xwww.. and Mei Bwww.b, x",
    "\u0663\u0663\u0663-\u0663\u0663-\u0663\u0663\u0663\u0663 AB-491823",
]


@pytest.mark.parametrize("text", _EDGES)
def test_edge_cases_match_reference(text):
    _assert_same(text)
    _assert_same(text, _GAZ)


@settings(max_examples=1500, derandomize=True, deadline=None)
@given(_text)
def test_adversarial_text_matches_reference(text):
    _assert_same(text)


@settings(max_examples=500, derandomize=True, deadline=None)
@given(_text)
def test_adversarial_text_matches_reference_with_gazetteer(text):
    _assert_same(text, _GAZ)


@settings(max_examples=300, derandomize=True, deadline=None)
@given(st.text(max_size=200))
def test_any_text_matches_reference(text):
    _assert_same(text)


_STREETS = "Elm Oak Maple Pine Cedar".split()
_SUFFIX = "St Ave Rd Lane Blvd Way".split()


def _segment(rng, names):
    k = int(rng.integers(0, 10**6))
    first = names[int(rng.integers(0, len(names)))].capitalize()
    last = names[int(rng.integers(0, len(names)))].capitalize()
    return [
        f"contact {first} {last} at {first.lower()}.{k}@example.org for details",
        f"call {first} {last} on 212-555-{k % 10000:04d} about this",
        f"sent by {first} {last} from {k % 9000 + 10} {_STREETS[k % 5]} {_SUFFIX[k % 6]} yesterday",
        f"uploaded by @user_{k} see http://site{k}.example.net/pics and u/fan_{k}",
        f"owner SSN {k % 900 + 100}-{k % 90 + 10}-{k % 9000 + 1000} on file with Dr. {first} {last}",
        f"reach {first} {last} at (555) {k % 900 + 100}-{k % 9000 + 1000} or +1 212 555 {k % 9000 + 1000}",
        f"id AB-{k:06d} and ref {k * 1000 + 12345678}",
        "what a stupid damn scene honestly, the idiot cyclist was a total jerk",
        "la foto de la persona con el perro en la mesa de los arboles",
        f"a photo of the dog near the house, photographed by {first} {last}",
    ][int(rng.integers(0, 10))]


def _long_captions(n, seed=20240611):
    """1-2k char captions dense in every PII class and in toxicity."""
    rng = np.random.default_rng(seed)
    names = sorted(synth.synth_gazetteer())
    out = []
    for _ in range(n):
        target = int(rng.integers(1000, 2000))
        parts, length = [], 0
        while length < target:
            seg = _segment(rng, names)
            parts.append(seg)
            length += len(seg) + 2
        out.append(". ".join(parts) + ".")
    return out


def test_long_pii_dense_captions_match_reference():
    caps = _long_captions(500)
    gaz = frozenset(tagger.FIRST_NAMES | synth.synth_gazetteer())
    for text in caps:
        _assert_same(text)
        with _ref_gazetteer(gaz):
            want = ref.tag_and_scrub(text)
        assert tagger.tag_and_scrub(text, gaz) == want, text


def test_synth_captions_match_reference():
    for i in range(5000):
        text = synth.caption_for(i)
        assert tagger.tag_and_scrub(text) == ref.tag_and_scrub(text), text
        assert tagger.tag(text) == ref.tag(text), text
        assert tagger.scrub(text) == ref.scrub(text), text


def test_gazetteer_argument_leaves_the_default_alone():
    caps = pd.Series(["met Xyzzy today", "met Alice today"])
    out = udfs.score_batch(caps, gazetteer=frozenset({"xyzzy"}))
    assert list(out["n_pii"]) == [1, 0]
    assert tagger._GAZETTEER is tagger.FIRST_NAMES
    assert list(udfs.score_batch(caps)["n_pii"]) == [0, 1]
