"""Property-based tests (hypothesis): the round-5 algorithms against
independent pure-Python references on randomized inputs.

These complement the DuckDB oracles: the oracle proves Spark==DuckDB on
the fixed testdata; these prove the ALGORITHM on adversarial inputs
(random strings with heavy repetition, random word multisets)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# Small alphabets force collisions, repeats, and shared substrings —
# the regimes where blocking schemes and merge rewrites break.
_WORDS = st.text(alphabet="abc", min_size=1, max_size=8)


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


class TestFuzzyJoinProperty:
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(_WORDS, min_size=2, max_size=12, unique=True))
    def test_matches_bruteforce(self, spark, strings):
        from dbt_omnata_push_spark.ops.fuzzyjoin import fuzzy_self_pairs

        for max_dist in (1, 2):
            expected = {
                (i, j, _levenshtein(strings[i], strings[j]))
                for i in range(len(strings))
                for j in range(i + 1, len(strings))
                if _levenshtein(strings[i], strings[j]) <= max_dist
            }
            df = spark.createDataFrame(
                list(enumerate(strings)), "id long, s string"
            )
            got = {
                (r["id_a"], r["id_b"], r["dist"])
                for r in fuzzy_self_pairs(df, "id", "s", max_dist).collect()
            }
            assert got == expected, (strings, max_dist)


def _ref_bpe(word_freqs: dict[str, int], n_merges: int):
    """Pure-Python reference for the repo's string-rewriting BPE
    variant: same pair counting, same (count desc, pair asc) argmax,
    same padded double-replace merge rule."""
    seqs = {w: " ".join(w) for w in word_freqs}
    merges = []
    for rnd in range(1, n_merges + 1):
        counts: dict[str, int] = {}
        for w, f in word_freqs.items():
            syms = seqs[w].split(" ")
            for x, y in zip(syms, syms[1:]):
                counts[f"{x} {y}"] = counts.get(f"{x} {y}", 0) + f
        if not counts:
            break
        pair = min(counts, key=lambda p: (-counts[p], p))
        a, b = pair.split(" ", 1)
        merges.append((rnd, a, b, counts[pair]))
        merged = pair.replace(" ", "")
        for w in seqs:
            s = f" {seqs[w]} "
            for _ in range(2):
                s = s.replace(f" {pair} ", f" {merged} ")
            seqs[w] = s.strip()
    return merges


class TestBpeProperty:
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        st.dictionaries(
            _WORDS, st.integers(min_value=1, max_value=50), min_size=1, max_size=10
        )
    )
    def test_matches_reference(self, spark, word_freqs):
        from dbt_omnata_push_spark.llmops.bpe import bpe_train

        words = spark.createDataFrame(
            list(word_freqs.items()), "word string, freq long"
        )
        # distributed loop (local_limit=0) vs the reference; the
        # adaptive local path is the same algorithm by construction and
        # is cross-checked in test_curation_round5b.TestBpeAdaptive.
        got = bpe_train(words, n_merges=4, local_limit=0)
        assert got == _ref_bpe(word_freqs, 4), word_freqs
