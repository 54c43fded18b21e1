"""Fused language-ID + perplexity scoring kernel (north-star N1+N2).

fastText-STYLE langid: hashed char n-gram (1-3) bag → per-language
linear profile score → softmax confidence. KenLM-STYLE perplexity:
word-unigram LM with a char-bigram backoff for OOV words (Kneser-Ney-lite
interpolation), log2 domain.

Both share ONE tokenize + n-gram hash pass per text (BASELINE.json
north_star: "language ID and perplexity share a single batched n-gram
hash + score pass"). Pure Python + no Spark imports: the same module is
the oracle AND the executor kernel; the Spark stage wraps `score_batch`
in an Arrow pandas UDF (operators/score.py).

Models are built deterministically at import from the embedded seed
vocabulary (functions/langdata.py) — no RNG, no external files.
"""

import functools
import math
import operator
import os
from typing import Dict, List, Tuple

# executor-side belt-and-braces: cap BLAS pools before numpy's first
# import in this process (config.py sets the same for the driver path)
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
           "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
    os.environ.setdefault(_v, "1")

import numpy as np  # noqa: E402

from .langdata import SEED_WORDS, LANGS

N_BUCKETS = 1 << 16
MAX_SCORE_CHARS = 1200      # score on a prefix; plenty for langid+ppl
UND = "und"                 # undetermined language

_POLY_B = np.uint64(1099511628211)        # FNV-1a prime (poly base)
_MIX = np.uint64(0x2545F4914F6CDD1D)      # xorshift* finalizer multiplier
_SHIFT = np.uint64(64 - 16)               # keep top 16 bits → N_BUCKETS


def _bucket_hashes(data: bytes, nmin: int = 1, nmax: int = 3) -> np.ndarray:
    """Bucket indices of every byte n-gram, fully vectorized: one
    polynomial rolling hash per n (uint64 wraparound), each n's built
    from the (n-1)-grams', then one multiply-shift mix down to 16 bits
    over them all. No per-gram Python — the n-gram pass is 2 numpy ops
    per n, which is what lets the fused langid+ppl UDF keep up with the
    native stages."""
    b = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    outs, h = [], b
    for n in range(1, min(nmax, len(b)) + 1):
        if n > 1:       # h_n = h_{n-1} * B + next byte
            h = h[:-1] * _POLY_B + b[n - 1:]
        if n >= nmin:
            outs.append(h)
    if not outs:
        return np.empty(0, dtype=np.int64)
    return ((np.concatenate(outs) * _MIX) >> _SHIFT).astype(np.int64)


def _ngram_hashes(text: str, nmin: int = 1, nmax: int = 3) -> List[int]:
    """Hashed byte n-grams of a (lowercased, ws-normalized) string."""
    return _bucket_hashes(text.encode("utf-8"), nmin, nmax).tolist()


def _build_models():
    """Per-language n-gram profiles + word-unigram/char-bigram LMs."""
    profiles: Dict[str, Dict[int, float]] = {}
    unigram: Dict[str, Dict[str, float]] = {}
    bigram: Dict[str, Dict[str, float]] = {}
    for lang, words in SEED_WORDS.items():
        # langid profile: weighted char n-grams (Zipf-ish rank weights,
        # matching how the synthetic corpus samples the same vocabulary)
        prof: Dict[int, float] = {}
        uni: Dict[str, float] = {}
        big: Dict[str, float] = {}
        total_w = 0.0
        for rank, w in enumerate(words):
            weight = 1.0 / (rank + 10.0)
            total_w += weight
            token = f" {w} "
            for h in _ngram_hashes(token):
                prof[h] = prof.get(h, 0.0) + weight
            uni[w] = uni.get(w, 0.0) + weight
            for i in range(len(token) - 1):
                bg = token[i:i + 2]
                big[bg] = big.get(bg, 0.0) + weight
        # L2-normalize profile
        norm = math.sqrt(sum(v * v for v in prof.values())) or 1.0
        profiles[lang] = {h: v / norm for h, v in prof.items()}
        # normalize LMs
        unigram[lang] = {w: v / total_w for w, v in uni.items()}
        btotal = sum(big.values()) or 1.0
        bigram[lang] = {b: v / btotal for b, v in big.items()}
    return profiles, unigram, bigram


_PROFILES, _UNIGRAM, _BIGRAM = _build_models()

# dense profile matrix for the vectorized scorer: (n_langs, N_BUCKETS)
_PROF_MAT = np.zeros((len(LANGS), N_BUCKETS), dtype=np.float64)
for _li, _lang in enumerate(LANGS):
    for _h, _v in _PROFILES[_lang].items():
        _PROF_MAT[_li, _h] = _v

_UNK_BIGRAM = 1e-6          # add-k floor for unseen char bigrams
_BACKOFF_LAMBDA = 0.4       # unigram↔char-backoff interpolation
_SOFTMAX_T = 20.0           # softmax temperature over cosine scores
_P_NUM = 2.0 ** -7          # digit-bearing tokens bin to <num> (standard
                            # LM number binning; keeps ppl independent of
                            # injected PII digit strings)


def _char_logprob(word: str, big: Dict[str, float]) -> float:
    """Length-normalized log2 prob of a word under the char-bigram model."""
    token = f" {word} "
    lp = 0.0
    n = 0
    for i in range(len(token) - 1):
        p = big.get(token[i:i + 2], _UNK_BIGRAM)
        lp += math.log2(p)
        n += 1
    return lp / max(n, 1)


# word → interpolated log2 prob, memoized per language: the web corpus
# repeats its vocabulary heavily, so the char-backoff loop runs once per
# distinct (lang, word) instead of once per token occurrence.
_WORD_LP_CACHE: Dict[str, Dict[str, float]] = {lang: {} for lang in LANGS}
_WORD_LP_CACHE_CAP = 1 << 20
_LP_NUM = math.log2(_P_NUM)


def _word_logprob(w: str, lm_lang: str) -> float:
    cache = _WORD_LP_CACHE[lm_lang]
    lp = cache.get(w)
    if lp is None:
        if any(c.isdigit() for c in w):
            lp = _LP_NUM
        else:
            p_uni = _UNIGRAM[lm_lang].get(w, 0.0)
            lp_char = _char_logprob(w, _BIGRAM[lm_lang])
            # KN-lite interpolation in prob domain
            p = ((1 - _BACKOFF_LAMBDA) * p_uni
                 + _BACKOFF_LAMBDA * (2.0 ** lp_char))
            lp = math.log2(max(p, 1e-12))
        if len(cache) >= _WORD_LP_CACHE_CAP:
            cache.clear()
        cache[w] = lp
    return lp


def score_text(text: str) -> Tuple[str, float, float]:
    """One fused pass: (lang_pred, lang_conf, logppl).

    logppl is computed under the PREDICTED language's LM (log2 per-token
    perplexity); higher = less natural text.
    """
    snippet = " ".join(text[:MAX_SCORE_CHARS].lower().split())
    if not snippet:
        return UND, 0.0, 99.0

    # --- single vectorized n-gram hash pass; cosine via sparse gather
    # (profile columns for the buckets present — never the dense
    # 65536-wide count vector per doc)
    idx = _bucket_hashes((" " + snippet + " ").encode("utf-8"))
    uniq, cnt = np.unique(idx, return_counts=True)
    cntf = cnt.astype(np.float64)
    norm = math.sqrt(float(cntf @ cntf)) or 1.0

    # --- langid: cosine vs each profile, softmax confidence
    # elementwise gather+sum (not BLAS dgemv): tiny operands, and BLAS
    # thread pools must never wake inside a Spark python worker
    sims = list((_PROF_MAT[:, uniq] * cntf).sum(axis=1) / norm)
    mx = max(sims)
    exps = [math.exp(_SOFTMAX_T * (s - mx)) for s in sims]
    tot = sum(exps)
    best = max(range(len(LANGS)), key=lambda i: sims[i])
    lang_pred = LANGS[best]
    lang_conf = exps[best] / tot
    if sims[best] <= 0.0:
        lang_pred, lang_conf = UND, 0.0

    # --- perplexity under the predicted (or en-fallback) LM
    lm_lang = lang_pred if lang_pred != UND else "en"
    words = snippet.split()
    lps = list(map(_WORD_LP_CACHE[lm_lang].get, words))
    if None in lps:
        lps = [_word_logprob(w, lm_lang) if lp is None else lp
               for w, lp in zip(words, lps)]
    # a left-to-right sum, bit-identical to a += loop (sum() is
    # compensated from Python 3.12 on)
    lp_sum = functools.reduce(operator.add, lps, 0.0)
    logppl = -lp_sum / max(len(words), 1)
    return lang_pred, lang_conf, logppl


def score_batch(texts) -> Tuple[List[str], List[float], List[float]]:
    """Batch entry point for the Arrow UDF: iterate texts inside the batch
    (vectorized at the Arrow-transfer level; compiled-C dict/crc32 loops
    inside — no per-row Spark UDF, per BASELINE.json input_hint)."""
    preds, confs, ppls = [], [], []
    for t in texts:
        p, c, l = score_text(t or "")
        preds.append(p)
        confs.append(c)
        ppls.append(l)
    return preds, confs, ppls
