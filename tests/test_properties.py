"""Property-based tests (hypothesis, derandomized for CI stability)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from lgid_spark.fixtures import LANG_TABLE
from lgid_spark.operators.mentions import NameTable, find_mentions, normalize_name
from lgid_spark.oracle.reference import (
    extract_text,
    get_langid_model,
    metrics_for,
    scrub_text,
)

TABLE = NameTable(LANG_TABLE)
SETTINGS = settings(max_examples=150, derandomize=True, deadline=None)

words = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu"), max_codepoint=0x24F),
    min_size=1, max_size=10,
)
lines_of_text = st.lists(
    st.lists(words, min_size=0, max_size=12).map(" ".join),
    min_size=1, max_size=5,
)


@SETTINGS
@given(lines_of_text)
def test_mentions_single_word_count_matches_token_scan(lines):
    """Every single-word-name mention corresponds to a normalized token
    equal to that name, and vice versa (no over/under matching)."""
    numbered = list(enumerate(lines, start=1))
    ms = find_mentions(numbered, TABLE)
    single_names = {
        n for n, codes in LANG_TABLE.items() if " " not in normalize_name(n)
    }
    from lgid_spark.operators.mentions import _line_tokens

    expected = 0
    for _ln, text in numbered:
        for tok, _s, _e, _t in _line_tokens(text):
            for name in single_names:
                if tok == normalize_name(name):
                    expected += len(LANG_TABLE[name])
    got = sum(1 for m in ms if " " not in m.name)
    assert got >= expected  # dash-splice can only add cross-line matches
    # without any trailing dashes, counts are exact
    if not any(t.rstrip().endswith("-") for t in lines):
        assert got == expected


@SETTINGS
@given(st.text(max_size=300))
def test_scrub_idempotent_and_stable(s):
    once = scrub_text(s)
    assert scrub_text(once) == once  # placeholders never re-match
    assert "\x00" not in once or "\x00" in s


@SETTINGS
@given(st.text(max_size=400))
def test_extract_strips_all_tags(payload):
    html = f"<html><body><p>{payload}</p><script>x<y</script></body></html>"
    out = extract_text(html.encode("utf-8"))
    assert "<p>" not in out and "</p>" not in out
    assert "script" not in out.lower() or "script" in payload.lower()


@SETTINGS
@given(st.text(max_size=400))
def test_metrics_total_and_bounds(text):
    m = metrics_for(text, "eng")
    assert 0.0 <= m["stopword_ratio"] <= 1.0
    assert 0.0 <= m["repetition_ratio"] <= 1.0
    assert m["n_chars"] == len(text)
    assert m["symbol_word_ratio"] >= 0.0


@SETTINGS
@given(st.lists(words, min_size=1, max_size=40).map(" ".join))
def test_langid_deterministic(text):
    m = get_langid_model()
    assert m.score(text) == m.score(text)
    lang, conf, ppl = m.score(text)
    assert lang in m.langs and 0.0 < conf <= 1.0 and ppl > 0.0


# --- scrub guard equivalence (round 3) --------------------------------------
# scrub_text short-circuits regex scans behind containment pre-checks;
# this property pins guarded output == the raw unguarded chain on
# adversarial inputs (unicode case oddities like U+0130, digit-less
# text, lexicon words inside longer words, mixed PII).

from lgid_spark.oracle.reference import (  # noqa: E402
    EMAIL_RE,
    PHONE_RE,
    SSN_RE,
    TOXIC_RE,
    scrub_text,
)
from lgid_spark.lexicons import TOXIC_LEXICON  # noqa: E402


def _scrub_unguarded(text: str) -> str:
    text = EMAIL_RE.sub("<EMAIL>", text)
    text = SSN_RE.sub("<SSN>", text)
    text = PHONE_RE.sub("<PHONE>", text)
    text = TOXIC_RE.sub("<TOX>", text)
    return text


# sre's IGNORECASE equates these with s / i; str.lower() does not
_SRE_CASE_TWINS = {"s": "ſ", "i": "ı"}
_sre_twin_words = [
    w.replace(a, b) for w in TOXIC_LEXICON
    for a, b in _SRE_CASE_TWINS.items() if a in w]

_scrub_atoms = st.sampled_from(
    [w.upper() for w in TOXIC_LEXICON]
    + [w.title() for w in TOXIC_LEXICON]
    + [f"x{w}y" for w in TOXIC_LEXICON]  # inside a word: \b must NOT fire
    + _sre_twin_words + [w.upper() for w in _sre_twin_words]
    + [f"x{w}y" for w in _sre_twin_words]
    + ["a@b.co", "555-12-3456", "(555) 123-4567", "İ", "ſ", "ǂkx'a",
       "no digits here", "123", "plain words only", "İNSULT"]
)


@given(st.lists(_scrub_atoms, min_size=0, max_size=8),
       st.text(max_size=40))
@settings(max_examples=300, deadline=None)
def test_scrub_guards_equal_unguarded_chain(parts, noise):
    text = " ".join(parts + [noise])
    assert scrub_text(text) == _scrub_unguarded(text)


@pytest.mark.parametrize("text", ["a ſnibwort b", "a snıbwort b", "blargfeſt"])
def test_scrub_sre_case_twins(text):
    """TOXIC_RE matches these although no lexicon word is contained in
    text.lower(); the guard must still let the sub run."""
    assert TOXIC_RE.search(text)
    assert scrub_text(text) == _scrub_unguarded(text) != text


from lgid_spark.oracle.reference import (  # noqa: E402
    _DROP_BLOCKS,
    _TAG,
    _WS,
    extract_text,
)
import html as _html_mod  # noqa: E402


def _extract_per_line(html_bytes: bytes) -> str:
    """Round-2 formulation (per-line _WS.sub) — the optimized one-pass
    extract_text must stay byte-identical to it."""
    s = html_bytes.decode("utf-8", errors="replace")
    s = _DROP_BLOCKS.sub(" ", s)
    s = _TAG.sub("\n", s)
    s = _html_mod.unescape(s)
    lines = []
    for raw in s.split("\n"):
        line = _WS.sub(" ", raw).strip()
        if line:
            lines.append(line)
    return "\n".join(lines)


_html_atoms = st.sampled_from([
    "<p>hello   world</p>", "<script>drop me</script>", "&nbsp;", "&amp;",
    "a\tb", "\r\n", "  ", "<div>x</div>", "é&eacute;", "\xa0pad\xa0",
    "<style a=b>css</style>", "plain", "<br>", "&#65;", "tab\there",
])


@given(st.lists(_html_atoms, min_size=0, max_size=12), st.text(max_size=30))
@settings(max_examples=300, deadline=None)
def test_extract_one_pass_equals_per_line(parts, noise):
    raw = ("".join(parts) + noise).encode("utf-8", errors="ignore")
    assert extract_text(raw) == _extract_per_line(raw)
