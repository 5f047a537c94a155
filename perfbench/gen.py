"""Seeded inputs of the workloads.

Everything here is derived from the run's seed alone; the program under
test only ever sees the files these functions write.

- ``corpus``: whole-file text records for the MapReduce apps, drawn from
  a Zipf vocabulary with non-ASCII letters, separated by spaces, digits
  and punctuation. The expected word counts and per-word document sets
  are tallied from the generated tokens, never by re-tokenizing text.
- ``battery``: the documents the hybrid lookups of query-mix ask for.

The query-mix tables are not generated: they are the catalogue's
reference tables, committed under ``perfbench/data``.
"""
import os
from collections import Counter

import numpy as np


# -- MapReduce corpus -------------------------------------------------------

LETTERS = ("abcdefghijklmnopqrstuvwxyz" * 6 + "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
           + "éèüößøåñç" + "αβγδεζηθλμπσω" + "жзиклмнпрст" + "中文字词书")
SEPARATORS = [" "] * 12 + ["\n", ", ", ". ", " - ", "3", " 42 ", "'", "(",
                            ") ", "; ", "_", "7.5", "/"]


def vocabulary(rng, size):
    words, seen = [], set()
    alphabet = np.array(list(LETTERS))
    while len(words) < size:
        w = "".join(rng.choice(alphabet, int(rng.integers(2, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def corpus(seed, out, n_files=16, tokens_per_file=40000, vocab=20000):
    """Write ``n_files`` text files; return (paths, word counts, word ->
    set of paths) as tallied from the generated tokens."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    words = vocabulary(rng, vocab)
    zipf = 1.0 / np.arange(1, vocab + 1) ** 1.1
    zipf /= zipf.sum()
    seps = np.array(SEPARATORS)
    counts, docs, paths = Counter(), {}, []
    for f in range(n_files):
        ids = rng.choice(vocab, tokens_per_file, p=zipf)
        sep = rng.choice(seps, tokens_per_file)
        toks = [words[i] for i in ids]
        path = os.path.join(out, f"doc-{f:03d}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("".join(t + s for t, s in zip(toks, sep)))
        counts.update(toks)
        for t in set(toks):
            docs.setdefault(t, set()).add(path)
        paths.append(path)
    return paths, counts, docs


def battery(seed, ids, size):
    """``size`` distinct ids drawn from ``ids``, in lookup order."""
    rng = np.random.default_rng([seed, 3])
    return [int(i) for i in rng.choice(sorted(ids), size, replace=False)]
