"""Self-test of the answer checks: correct answers pass, corrupted ones
fail. Run on its own with ``python3 perfbench/selftest.py``; every
benchmark run also runs it first and stops if it does not hold.

Corruptions tried: a swapped top-k id, a perturbed score, a reordered
top-k, a deleted id that comes back, a wrong count, and a perturbed,
dropped or renamed row of a batch result. A top-k whose last place is
taken by another id tied at the k-th score must pass.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402

import checks  # noqa: E402


def _corpus():
    rng = np.random.default_rng(0)
    c = checks.Corpus()
    for i in range(50):
        c.put(str(i), checks.encode(" ".join(rng.choice(["a", "b", "c", "d", "e", "f"], 8))))
    # two exact repeats tie with their originals
    c.put("tie-1", c.rows["3"][0])
    c.put("tie-2", c.rows["7"][0])
    return c


def cases() -> list[tuple[str, bool, bool]]:
    """[(case, expected verdict, actual verdict)]."""
    c = _corpus()
    q = checks.encode("a b c")
    truth = c.scores(q)
    ranked = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))
    k = 5
    good = [(key, round(s, 6)) for key, s in ranked[:k]]
    outside = ranked[k + 3]
    swapped = good[:-1] + [(outside[0], good[-1][1])]
    perturbed = good[:2] + [(good[2][0], good[2][1] + 1e-4)] + good[3:]
    reordered = [good[-1]] + good[1:-1] + [good[0]]
    gone = c.drop([good[0][0]])
    after = c.scores(q)
    came_back = [(key, s) for key, s in good[:k]]
    fresh = sorted(after.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    after_ok = [(key, round(s, 6)) for key, s in fresh]

    # a cut inside a tie: either tied id may fill the last place
    i = next(j for j in range(len(ranked) - 1) if ranked[j][1] == ranked[j + 1][1])
    tie_alt = [(key, round(s, 6)) for key, s in ranked[:i] + [ranked[i + 1]]]

    cols = ["id", "score"]
    rows = [(1, 0.5), (2, 0.25), (3, 0.125)]
    want = checks.canonical_hash(cols, rows)
    return [
        ("top-k correct", True, checks.topk_ok(good, truth, k)),
        ("top-k swapped id", False, checks.topk_ok(swapped, truth, k)),
        ("top-k perturbed score", False, checks.topk_ok(perturbed, truth, k)),
        ("top-k reordered", False, checks.topk_ok(reordered, truth, k)),
        ("top-k tied id at the cut", True, checks.topk_ok(tie_alt, truth, i + 1)),
        ("top-k after delete", True, checks.topk_ok(after_ok, after, k)),
        ("deleted id comes back", False, bool(gone) and checks.topk_ok(came_back, after, k)),
        ("count", True, len(c) == 51),
        ("batch rows reordered", True, checks.canonical_hash(cols[::-1], [r[::-1] for r in rows[::-1]]) == want),
        ("batch int vs float", True, checks.canonical_hash(cols, [(1.0, 0.5), (2, 0.25), (3, 0.125)]) == want),
        ("batch row perturbed", False, checks.canonical_hash(cols, [(1, 0.5), (2, 0.250001), (3, 0.125)]) == want),
        ("batch row dropped", False, checks.canonical_hash(cols, rows[:2]) == want),
        ("batch column renamed", False, checks.canonical_hash(["id", "sc"], rows) == want),
    ]


def run(verbose: bool = False) -> bool:
    ok = True
    for name, expected, actual in cases():
        good = expected == actual
        ok &= good
        if verbose or not good:
            print(f"{'ok  ' if good else 'FAIL'} {name}: verdict {actual}, want {expected}")
    return ok


if __name__ == "__main__":
    sys.exit(0 if run(verbose=True) else 1)
