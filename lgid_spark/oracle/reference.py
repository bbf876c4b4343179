"""Pure-pandas/Python reference oracle for the quality-filter pipeline.

This module is the *reference implementation* the Spark pipeline must
match byte-for-byte (BASELINE.json north_rule: keep/drop F1≥0.99,
extracted/scrubbed text byte-identical per url). It plays the role the
golden files play for lgid's mention extractor
(/root/reference/test/README.md:9-18): fixtures are generated from here
and pytest compares Spark output against it.

Everything is a pure function — no RNG, no I/O — and the langid /
perplexity models are deterministic functions of the lexicons, so the
oracle is reproducible on any machine.

Semantics re-expressed from the reference (not ported):
  * langid        ≈ lgid's candidate-language scoring (features.py) as a
                    fastText-style hashed char-n-gram linear model
  * perplexity    ≈ lgid's LM-match ratio (features.py:337-354) as a
                    KenLM-style char-trigram log-probability
  * quality rules = Gopher/C4 heuristics (north_star)
  * scrub         = ordered Python-`re` chain (pinned; the Spark side
                    runs the SAME compiled regexes inside pandas UDFs)
"""

from __future__ import annotations

import html as _html_mod
import math
import re
import zlib
from functools import lru_cache
from re._casefix import _EXTRA_CASES  # the table sre compiles IGNORECASE from

import numpy as np

from ..lexicons import ALLOWED_LANGS, LANGS, LEXICONS, STOPWORDS, TOXIC_LEXICON

# ---------------------------------------------------------------------------
# 1. HTML → text extraction (byte-identical contract per url)
# ---------------------------------------------------------------------------

_DROP_BLOCKS = re.compile(
    r"(?is)<(script|style|nav|header|footer)\b.*?</\1\s*>")
_TAG = re.compile(r"(?s)<[^>]+>")
_WS = re.compile(r"[ \t\r\f\v]+")


def extract_text(html: bytes) -> str:
    """Strip boilerplate blocks, drop tags, unescape entities, normalize
    whitespace per line. Pure function of the bytes."""
    s = html.decode("utf-8", errors="replace")
    s = _DROP_BLOCKS.sub(" ", s)
    s = _TAG.sub("\n", s)
    s = _html_mod.unescape(s)
    # ONE whitespace-collapse pass over the whole text instead of one
    # sub per line: _WS's class excludes \n, so the global sub touches
    # exactly what the per-line subs did (was ~30 re.sub calls/doc —
    # the hot spot of extraction profiling). Per-line strip() still
    # runs per line (it also trims unicode spaces like the \xa0 that
    # unescape introduces, which _WS deliberately leaves inside lines).
    # whitespace collapse: when the only horizontal whitespace is the
    # space character (no \t\r\f\v — the common case for decoded HTML),
    # `[ \t\r\f\v]+` → " " degenerates to collapsing space runs, which
    # repeated C-speed replace("  ", " ") does identically (each pass
    # halves run lengths; a fixpoint has no "  " left) — measured ~5×
    # faster than the regex scan. Otherwise keep the regex.
    if "\t" not in s and "\r" not in s and "\f" not in s and "\v" not in s:
        n = len(s) + 1
        while len(s) < n:
            n = len(s)
            s = s.replace("  ", " ")
    else:
        s = _WS.sub(" ", s)
    # C-speed tail: map(str.strip) ≡ raw.strip() per line and
    # filter(None) ≡ `if line` — byte-identical to the genexpr pair it
    # replaces, without two Python generator frames per line (r6 §4.2)
    return "\n".join(filter(None, map(str.strip, s.split("\n"))))


# ---------------------------------------------------------------------------
# 2. Hashed char-n-gram langid (fastText-style) + perplexity (KenLM-style)
# ---------------------------------------------------------------------------

N_BUCKETS = 1 << 18
_ALPHA = 0.1
_GRAM_N = 3


def _grams(word: str) -> list[str]:
    w = f" {word} "
    return [w[k:k + _GRAM_N] for k in range(len(w) - _GRAM_N + 1)]


def _bucket(gram: str) -> int:
    return zlib.crc32(gram.encode("utf-8")) % N_BUCKETS


_TOKEN_RE = re.compile(r"\s+")
_PUNCT_EDGE = re.compile(r"^\W+|\W+$", re.UNICODE)


def tokenize(text: str) -> list[str]:
    # str.split() ≡ unicode-\s+ split with empties dropped, but C-speed
    return text.split()


def norm_word(w: str) -> str:
    # alnum edge chars ⊆ \w, so _PUNCT_EDGE (^\W+|\W+$) is the identity
    # on such words — skip the regex (true for most words; the sub was
    # the single largest remaining re cost in process_batch profiling)
    if w and w[0].isalnum() and w[-1].isalnum():
        return w.lower()
    return _PUNCT_EDGE.sub("", w).lower()


class LangIDModel:
    """log P(gram | lang) over hashed char-trigram buckets.

    Weights are a dense (N_BUCKETS, n_langs) float32 matrix — ~5 MB —
    broadcast to executors by the Spark side. Doubles as the perplexity
    table: ppl(text, lang) = exp(-mean log P(gram|lang))."""

    def __init__(self) -> None:
        self.langs = list(LANGS)
        counts = np.zeros((N_BUCKETS, len(self.langs)), dtype=np.float64)
        for li, lang in enumerate(self.langs):
            for word in LEXICONS[lang]:
                for g in _grams(word.lower()):
                    counts[_bucket(g), li] += 1.0
        totals = counts.sum(axis=0)
        self.logp = np.log(
            (counts + _ALPHA) / (totals + _ALPHA * N_BUCKETS)
        ).astype(np.float32)

    @classmethod
    def from_weights(cls, logp: np.ndarray, langs: list[str]) -> "LangIDModel":
        """Executor-side constructor from broadcast weights — skips the
        training pass entirely (cold-start cost matters ×1000 workers)."""
        m = cls.__new__(cls)
        m.logp = logp
        m.langs = langs
        return m

    # -- scoring -----------------------------------------------------------
    def _text_buckets(self, text: str) -> np.ndarray:
        buckets: list[int] = []
        for w in tokenize(text):
            nw = norm_word(w)
            if nw:
                buckets.extend(_bucket(g) for g in _grams(nw))
        return np.asarray(buckets, dtype=np.int64)

    def _score_buckets(self, b: np.ndarray) -> tuple[str, float, float]:
        if b.size == 0:
            return self.langs[0], 1.0 / len(self.langs), float("inf")
        # sum/size instead of .mean(): bitwise-equal (np.mean is the
        # same pairwise float32 reduce divided by n) without ~25 µs of
        # _mean wrapper overhead per call — measured ~10% of score time
        g = self.logp[b]
        mean_logp = g.sum(axis=0) / np.float32(g.shape[0])
        # softmax over per-gram mean log-probs, scaled by gram count
        z = mean_logp - mean_logp.max()
        p = np.exp(z * min(b.size, 50))  # sharpen with evidence volume
        p = p / p.sum()
        li = int(np.argmax(p))
        ppl = float(np.exp(-mean_logp[li]))
        return self.langs[li], float(p[li]), ppl

    def score(self, text: str) -> tuple[str, float, float]:
        """→ (lang_pred, confidence, ppl). Deterministic ties: first lang
        in sorted order wins (np.argmax takes first, same rule as the
        reference's find_best_and_normalize, main.py:321-323)."""
        return self._score_buckets(self._text_buckets(text))

    def score_batch(self, texts) -> list[tuple[str, float, float]]:
        """Batch scoring with per-word bucket memoization — numerically
        identical to score() (per-word arrays concatenate to exactly the
        same bucket sequence) but skips re-hashing repeated words, which
        dominates on Zipfian web text. Used by the Spark pandas UDF."""
        cache: dict[str, np.ndarray] = {}
        empty = np.asarray([], dtype=np.int64)
        out = []
        for text in texts:
            arrs = []
            for w in tokenize(text or ""):
                nw = norm_word(w)
                if not nw:
                    continue
                a = cache.get(nw)
                if a is None:
                    a = np.asarray(
                        [_bucket(g) for g in _grams(nw)], dtype=np.int64)
                    cache[nw] = a
                arrs.append(a)
            b = np.concatenate(arrs) if arrs else empty
            out.append(self._score_buckets(b))
        return out


@lru_cache(maxsize=1)
def get_langid_model() -> LangIDModel:
    return LangIDModel()


# ---------------------------------------------------------------------------
# 3. Quality metrics + rules (Gopher/C4-style)
# ---------------------------------------------------------------------------

MIN_CHARS = 100
MAX_SYMBOL_WORD_RATIO = 0.10
MIN_STOPWORD_RATIO = 0.05
MAX_REPETITION_RATIO = 0.30
PPL_THRESHOLD = 50_000.0
CONF_THRESHOLD = 0.50

_SYMBOLS = set("@#$%^&*+=<>~|{}[]\\")
# NB: measured — per-symbol str.count (memchr) beats one str.translate
# pass (per-char dict lookup) ~1.2× on these text sizes; keep count()
_SYMBOL_LIST = sorted(_SYMBOLS)
_SYM_DELETE = "".join(_SYMBOL_LIST).encode("ascii")
# per-language stopword sets hoisted out of the per-document loop
_STOPSETS = {lang: frozenset(ws) for lang, ws in STOPWORDS.items()}
_EMPTY_STOPSET: frozenset = frozenset()


def metrics_for(text: str, lang_pred: str) -> dict:
    words = tokenize(text)
    n_words = len(words)
    n_chars = len(text)
    lines = text.split("\n") if text else []
    mean_line_len = (sum(len(ln) for ln in lines) / len(lines)) if lines else 0.0
    n_sym = sum(text.count(c) for c in _SYMBOLS)
    symbol_word_ratio = n_sym / n_words if n_words else 0.0
    stops = _STOPSETS.get(lang_pred, _EMPTY_STOPSET)
    n_stop = sum(1 for w in words if norm_word(w) in stops)
    stopword_ratio = n_stop / n_words if n_words else 0.0
    if n_words >= 3:
        trigrams = set(zip(words, words[1:], words[2:]))
        repetition_ratio = 1.0 - len(trigrams) / (n_words - 2)
    else:
        repetition_ratio = 0.0
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_line_len": mean_line_len,
        "symbol_word_ratio": symbol_word_ratio,
        "stopword_ratio": stopword_ratio,
        "repetition_ratio": repetition_ratio,
    }


def drop_reasons_for(m: dict, lang_pred: str, conf: float, ppl: float) -> list[str]:
    reasons = []
    if m["n_chars"] < MIN_CHARS:
        reasons.append("too_short")
    if m["symbol_word_ratio"] > MAX_SYMBOL_WORD_RATIO:
        reasons.append("too_symbolic")
    if m["stopword_ratio"] < MIN_STOPWORD_RATIO:
        reasons.append("low_stopword")
    if m["repetition_ratio"] > MAX_REPETITION_RATIO:
        reasons.append("repetitive")
    if ppl > PPL_THRESHOLD:
        reasons.append("high_perplexity")
    if lang_pred not in ALLOWED_LANGS or conf < CONF_THRESHOLD:
        reasons.append("bad_lang")
    return sorted(reasons)


# ---------------------------------------------------------------------------
# 4. PII / toxicity scrub (ordered, Python-`re`-pinned)
# ---------------------------------------------------------------------------

EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
PHONE_RE = re.compile(r"(?:\+?1[\s.-]?)?\(?\d{3}\)?[\s.-]\d{3}[\s.-]?\d{4}")
SSN_RE = re.compile(r"\b\d{3}-\d{2}-\d{4}\b")
TOXIC_RE = re.compile(
    r"\b(?:" + "|".join(re.escape(w) for w in TOXIC_LEXICON) + r")\b",
    re.IGNORECASE,
)

# Order matters (SSN before a bare-digit phone variant could differ);
# pinned here, mirrored exactly by the Spark side which imports these
# compiled patterns.
SCRUB_CHAIN: list[tuple[re.Pattern, str]] = [
    (EMAIL_RE, "<EMAIL>"),
    (SSN_RE, "<SSN>"),
    (PHONE_RE, "<PHONE>"),
    (TOXIC_RE, "<TOX>"),
]


_DIGITS = "0123456789"
_TOXIC_WORDS_LOWER = tuple(w.lower() for w in TOXIC_LEXICON)
# sre's IGNORECASE equates more than simple lowercasing does (ſ ≡ s,
# ı ≡ i, ...); re compiles patterns from exactly this table, so text
# holding any extra equivalent of a lexicon character pays the sub
_CASE_TRAPS = "".join(sorted({
    chr(x) for w in _TOXIC_WORDS_LOWER for c in w
    for x in _EXTRA_CASES.get(ord(c), ())}))
_CASE_TRAP_RE = re.compile(
    f"[{re.escape(_CASE_TRAPS)}]" if _CASE_TRAPS else "(?!)")
_HAS_DIGIT = re.compile(r"\d")  # same \d class SSN_RE/PHONE_RE require


def scrub_text(text: str) -> str:
    # Pre-checks short-circuit regex scans that provably cannot match —
    # output identical to the unguarded chain (measured: scrub was ~47%
    # of process_batch, and 6/7 synthetic docs are digit-free):
    #   '@'      — EMAIL_RE requires a literal '@';
    #   digits   — SSN_RE/PHONE_RE both require \d: ASCII text uses the
    #              memchr scan over '0'-'9'; non-ASCII text a single
    #              \d search (the SAME class the patterns need, so a
    #              no-hit provably implies both subs are identities —
    #              r6: previously every non-ASCII doc paid both scans);
    #   lexicon  — TOXIC_RE (IGNORECASE, \b-bounded words) matching
    #              implies lowercase containment of some lexicon word
    #              whenever str.lower() is length-preserving: then
    #              every char lowercases 1-1, so full-lower == sre's
    #              simple-case table per char and positions align
    #              (containment is a superset: no word boundaries).
    #              Length-CHANGING lower (e.g. U+0130 → 'i'+combining
    #              dot) breaks the alignment, and sre's extra case
    #              equivalences (ſ ≡ s, ı ≡ i: _CASE_TRAP_RE) match
    #              chars whose lower() differs, so non-ASCII text with
    #              either skips the guard and pays the sub. ASCII text
    #              has neither.
    if "@" in text:
        text = EMAIL_RE.sub("<EMAIL>", text)
    if text.isascii():
        has_digit = any(d in text for d in _DIGITS)
    else:
        has_digit = _HAS_DIGIT.search(text) is not None
    if has_digit:
        text = SSN_RE.sub("<SSN>", text)
        text = PHONE_RE.sub("<PHONE>", text)
    # hoist the lowercase copy OUT of the any() — a generator
    # re-evaluates text.lower() per lexicon word otherwise
    lowered = text.lower()
    if (any(w in lowered for w in _TOXIC_WORDS_LOWER)
            or not text.isascii() and (
                len(lowered) != len(text)
                or _CASE_TRAP_RE.search(lowered) is not None)):
        text = TOXIC_RE.sub("<TOX>", text)
    return text


# ---------------------------------------------------------------------------
# 4b. Single-pass batch processing (tokenize once, share across langid /
#     metrics / scrub) — numerically identical to the per-stage functions
#     (verified by tests/test_pipeline_parity.py + test_oracle_internal).
#     This is what the Spark fused pandas UDF calls: Python-side work
#     scales linearly across worker processes, unlike 32-thread JVM
#     string-array allocation which GC-thrashes a shared heap.
# ---------------------------------------------------------------------------


def process_batch(texts, model: "LangIDModel",
                  emit_extracted: bool = True,
                  emit_scrubbed: bool = True) -> list[dict]:
    """Fused per-text scoring (row-dict view of process_batch_columns —
    kept for the oracle/tests and the bench's frequency probe). The emit
    flags drop the two TEXT fields from the output — the Arrow-volume
    levers for the fused UDF; emit_scrubbed=False additionally skips the
    scrub regex work itself."""
    cols = process_batch_columns(texts, model, emit_extracted, emit_scrubbed)
    py = {k: (v.tolist() if isinstance(v, np.ndarray) else v)
          for k, v in cols.items()}
    keys = list(py)
    return [{k: py[k][i] for k in keys} for i in range(len(texts))]


# Module-level word cache: (normalized form, bucket array) keyed by the
# RAW word — a pure function of the word, so a reused Python worker
# (spark.python.worker.reuse, the default) keeps it warm ACROSS Arrow
# batches and tasks instead of re-hashing the Zipf head per batch
# (guide §4.5: heavyweight state once per task, cached per process).
# Bounded so open-vocabulary crawl text cannot grow it without limit.
_WORD_CACHE: dict[str, tuple[str, "np.ndarray | None"]] = {}
_WORD_CACHE_MAX = 1 << 20


def process_batch_columns(texts, model: "LangIDModel",
                          emit_extracted: bool = True,
                          emit_scrubbed: bool = True) -> dict:
    """Columnar twin of process_batch — the Spark fused UDF's entry
    point (pd.DataFrame(dict-of-columns) skips per-row dict inference).

    Numerically BIT-IDENTICAL to the historical per-row implementation
    (pinned by tests/test_oracle_internal-style parity + the golden
    VALUES oracles): the per-doc pairwise float32 `logp[b].sum(axis=0)`
    is kept per doc (its summation order is load-bearing), while the
    softmax/argmax/ppl tail — elementwise float32 ops — is batched
    across docs (verified elementwise-equal; ~25 µs/doc of numpy call
    overhead removed)."""
    word_cache = _WORD_CACHE
    if len(word_cache) > _WORD_CACHE_MAX:
        word_cache.clear()
    wc_get = word_cache.get
    logp = model.logp
    langs = model.langs
    n_langs = len(langs)
    n = len(texts)
    sums = np.zeros((n, n_langs), dtype=np.float32)
    sizes = np.zeros(n, dtype=np.int64)
    n_words_a = np.empty(n, dtype=np.int64)
    n_chars_a = np.empty(n, dtype=np.int64)
    mean_line_len = np.empty(n, dtype=np.float64)
    sym_ratio = np.empty(n, dtype=np.float64)
    rep_ratio = np.empty(n, dtype=np.float64)
    normed_all: list = [None] * n
    texts_out: list = [None] * n
    for i, text in enumerate(texts):
        text = text or ""
        texts_out[i] = text
        words = text.split()
        pairs = list(map(wc_get, words))
        if None in pairs:
            for j, hit in enumerate(pairs):
                if hit is None:
                    w = words[j]
                    nw = norm_word(w)
                    a = (
                        np.asarray([_bucket(g) for g in _grams(nw)],
                                   dtype=np.int64)
                        if nw else None
                    )
                    hit = (nw, a)
                    word_cache[w] = hit
                    pairs[j] = hit
        normed_all[i] = [h[0] for h in pairs]
        arrs = [a for _, a in pairs if a is not None]
        if arrs:
            b = np.concatenate(arrs)
            sizes[i] = b.size
            # pairwise float32 sum per doc — summation order pinned
            sums[i] = logp[b].sum(axis=0)
        n_words = len(words)
        n_words_a[i] = n_words
        n_chars = len(text)
        n_chars_a[i] = n_chars
        if text:
            # sum(len(line)) == n_chars - n_newlines exactly, and
            # len(lines) == n_newlines + 1: same ints, same division
            nl = text.count("\n")
            mean_line_len[i] = (n_chars - nl) / (nl + 1)
        else:
            mean_line_len[i] = 0.0
        if n_words:
            # one C pass: every symbol is a single ASCII byte, and in
            # UTF-8 an ASCII byte value only ever encodes that ASCII
            # char, so deleting symbol bytes from the encoded text
            # counts exactly what the 19 str.count scans counted
            bs = text.encode("utf-8", "surrogatepass")
            n_sym = len(bs) - len(bs.translate(None, _SYM_DELETE))
            sym_ratio[i] = n_sym / n_words
        else:
            sym_ratio[i] = 0.0
        if n_words >= 3:
            trigrams = set(zip(words, words[1:], words[2:]))
            rep_ratio[i] = 1.0 - len(trigrams) / (n_words - 2)
        else:
            rep_ratio[i] = 0.0

    # ---- vectorized scoring tail (elementwise ≡ _score_buckets) ----
    denom = np.maximum(sizes, 1).astype(np.float32)
    mean = sums / denom[:, None]
    z = mean - mean.max(axis=1, keepdims=True)
    scale = np.minimum(sizes, 50).astype(np.float32)
    p = np.exp(z * scale[:, None])
    # n_langs < 8: numpy's 1-D pairwise sum is plain sequential there,
    # so a left-to-right column chain reproduces p.sum() bit-for-bit
    s = p[:, 0].copy()
    for k in range(1, n_langs):
        s += p[:, k]
    p /= s[:, None]
    li = p.argmax(axis=1)
    rows = np.arange(n)
    conf = p[rows, li].astype(np.float64)
    ppl = np.exp(-mean[rows, li]).astype(np.float64)
    lang_pred = [langs[k] for k in li]
    if n and not sizes.all():
        empty_conf = 1.0 / n_langs
        lang0 = langs[0]
        for i in np.flatnonzero(sizes == 0):
            conf[i] = empty_conf
            ppl[i] = float("inf")
            lang_pred[i] = lang0

    # ---- second pass: lang-dependent stopword ratio + scrub ----
    stop_ratio = np.empty(n, dtype=np.float64)
    scrubbed: list | None = [None] * n if emit_scrubbed else None
    sget = _STOPSETS.get
    for i in range(n):
        nw = n_words_a[i]
        if nw:
            stops = sget(lang_pred[i], _EMPTY_STOPSET)
            stop_ratio[i] = sum(map(stops.__contains__, normed_all[i])) / nw
        else:
            stop_ratio[i] = 0.0
        if emit_scrubbed:
            scrubbed[i] = scrub_text(texts_out[i])

    cols: dict = {}
    if emit_extracted:
        cols["extracted_text"] = texts_out
    cols["lang_pred"] = lang_pred
    cols["langid_conf"] = conf
    cols["ppl"] = ppl
    cols["n_chars"] = n_chars_a
    cols["n_words"] = n_words_a
    cols["mean_line_len"] = mean_line_len
    cols["symbol_word_ratio"] = sym_ratio
    cols["stopword_ratio"] = stop_ratio
    cols["repetition_ratio"] = rep_ratio
    if emit_scrubbed:
        cols["scrubbed_text"] = scrubbed
    return cols


# ---------------------------------------------------------------------------
# 5. Full reference pipeline over a pandas frame of web_pages
# ---------------------------------------------------------------------------

def process_pages(pdf) -> "object":
    """pandas web_pages → golden_labels frame (FIXTURES.md §6)."""
    import pandas as pd

    model = get_langid_model()
    out = []
    for r in pdf.itertuples(index=False):
        etext = extract_text(r.html)
        lang_pred, conf, ppl = model.score(etext)
        m = metrics_for(etext, lang_pred)
        reasons = drop_reasons_for(m, lang_pred, conf, ppl)
        out.append({
            "url": r.url,
            "extracted_text": etext,
            "lang_pred": lang_pred,
            "langid_conf": conf,
            "ppl": ppl,
            "stopword_ratio": m["stopword_ratio"],
            "mean_line_len": m["mean_line_len"],
            "symbol_word_ratio": m["symbol_word_ratio"],
            "repetition_ratio": m["repetition_ratio"],
            "drop_reasons": reasons,
            "keep": len(reasons) == 0,
            "scrubbed_text": scrub_text(etext),
        })
    return pd.DataFrame(out)
