"""The scoring kernel's vectorized pieces equal their plain definitions
bit for bit: the byte n-gram bucket hashes, and the per-token LM sum."""

import random

import pytest

from pii_extract_base_spark.functions import scoring as S

M64 = (1 << 64) - 1


def _buckets_plain(data, nmin=1, nmax=3):
    out = []
    for n in range(nmin, nmax + 1):
        for i in range(len(data) - n + 1):
            h = 0
            for byte in data[i:i + n]:
                h = (h * int(S._POLY_B) + byte) & M64
            out.append(((h * int(S._MIX)) & M64) >> int(S._SHIFT))
    return out


@pytest.mark.parametrize("nmin,nmax", [(1, 3), (2, 3), (1, 1), (3, 5)])
def test_bucket_hashes_equal_the_per_gram_hash(nmin, nmax):
    rng = random.Random(7)
    for length in [0, 1, 2, 3, 4, 17, 300]:
        data = bytes(rng.randrange(256) for _ in range(length))
        got = S._bucket_hashes(data, nmin, nmax).tolist()
        assert got == _buckets_plain(data, nmin, nmax), (length, data)


def _logppl_plain(text):
    """score_text's logppl as a += loop over _word_logprob."""
    lang, _, _ = S.score_text(text)
    lm = lang if lang != S.UND else "en"
    words = " ".join(text[:S.MAX_SCORE_CHARS].lower().split()).split()
    lp = 0.0
    for w in words:
        lp += S._word_logprob(w, lm)
    return -lp / max(len(words), 1)


def test_logppl_is_the_sequential_token_sum():
    rng = random.Random(11)
    vocab = [w for lang in S.LANGS for w in S.SEED_WORDS[lang][:40]]
    vocab += ["zxqv", "x1", "42", "naïve", "über"]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 60)))
             for _ in range(300)]
    for cold in (True, False):
        for text in texts:
            if cold:
                for cache in S._WORD_LP_CACHE.values():
                    cache.clear()
            # score_text first, so with cold caches it fills the misses
            assert S.score_text(text)[2] == _logppl_plain(text), text
