"""Seeded, vectorised input generators.

Word-count text is built from token ids, so the expected ``word -> count``
result is an exact ``bincount`` of those ids, never a re-tokenisation.
That holds because every vocabulary word is made only of Unicode letters
(``\\p{L}``) and every separator holds none, so the engine's
``[^\\p{L}]+`` tokenizer recovers exactly the drawn words.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

# Unicode letters only: ASCII, Latin-1 and Greek.
LETTERS = np.array(list(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "éöñçßàüøåèαβγδλπσω"
))
# Non-letters only.  Digits and "_" separate words under \p{L}.
SEPARATORS = np.array([" ", " ", " ", " ", "  ", ", ", ". ", "; ", " - ",
                       "1", "42", "_", "\t", "'", "!? "], dtype=object)
# Line ends, including empty lines, a punctuation-only line, whitespace-only
# lines and a leading separator on the next line.
LINE_BREAKS = np.array(["\n"] * 12 + ["\n\n", "\n   \n", "\n!!! ???\n",
                                       "\n ", "\n, ", "\n7"], dtype=object)
MAX_LINE_TOKENS = 24


def _params_key(seed: int, params: dict) -> str:
    blob = json.dumps({"seed": seed, "params": params}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _random_words(rng: np.random.Generator, lengths: np.ndarray) -> np.ndarray:
    """Distinct random letter strings, one of each given length."""
    words = np.empty(len(lengths), dtype=object)
    seen: set[str] = set()
    todo = np.arange(len(lengths))
    while len(todo):
        chars = LETTERS[rng.integers(0, len(LETTERS), int(lengths[todo].sum()))]
        retry = []
        for i, part in zip(todo, np.split(chars, np.cumsum(lengths[todo])[:-1])):
            word = "".join(part)
            if word in seen:
                retry.append(i)
            else:
                seen.add(word)
                words[i] = word
        todo = np.array(retry, dtype=np.int64)
    return words


def _unique_words(rng: np.random.Generator, n: int, length: int = 5) -> np.ndarray:
    """``n`` distinct fixed-length words, one base-|LETTERS| code each."""
    base = len(LETTERS)
    codes = rng.choice(base**length, size=n, replace=False)
    digits = (codes[:, None] // base ** np.arange(length)) % base
    chars = np.ascontiguousarray(LETTERS[digits])
    return chars.view(f"<U{length}").ravel().astype(object)


def draw_tokens(seed: int, params: dict) -> tuple[np.ndarray, np.ndarray]:
    """Vocabulary and the token-id stream for one word-count input."""
    rng = np.random.default_rng(seed)
    if params["shape"] == "zipf":
        ranks = np.arange(1, params["vocab"] + 1, dtype=np.float64)
        # Frequent words are short, and a rank always has the same length,
        # so the input's size in bytes barely changes with the seed.
        vocab = _random_words(rng, np.minimum(2 + np.log2(ranks).astype(np.int64), 12))
        p = ranks ** -params["zipf_s"]
        ids = rng.choice(params["vocab"], size=params["tokens"], p=p / p.sum())
    elif params["shape"] == "unique":
        vocab = _unique_words(rng, params["vocab"])
        reps = 1 + (rng.random(params["vocab"]) < params["repeat_frac"])
        ids = rng.permutation(np.repeat(np.arange(params["vocab"]), reps))
    else:
        raise ValueError(f"unknown text shape {params['shape']!r}")
    return vocab, ids


def render_text(rng: np.random.Generator, vocab: np.ndarray, ids: np.ndarray) -> str:
    pieces = np.empty(2 * len(ids), dtype=object)
    pieces[0::2] = vocab[ids]
    seps = SEPARATORS[rng.integers(0, len(SEPARATORS), len(ids))]
    line_ends = np.cumsum(rng.integers(1, MAX_LINE_TOKENS + 1, len(ids))) - 1
    line_ends = line_ends[line_ends < len(ids)]
    seps[line_ends] = LINE_BREAKS[rng.integers(0, len(LINE_BREAKS), len(line_ends))]
    seps[-1] = "\n"
    pieces[1::2] = seps
    return "".join(pieces.tolist())


def digest_of(counts: dict[str, int]) -> str:
    h = hashlib.sha256()
    for word in sorted(counts):
        h.update(f"{word}\t{counts[word]}\n".encode())
    return h.hexdigest()


class TextInput:
    """A generated word-count input file plus its exact expected counts."""

    def __init__(self, path: str, counts: dict[str, int]) -> None:
        self.path = path
        self.counts = counts
        self.bytes = os.path.getsize(path)


def text_input(cache_dir: str, seed: int, params: dict, keep: int = 4) -> TextInput:
    """Generate (or reuse) the input for ``(seed, params)`` under ``cache_dir``.

    The cache keeps the ``keep`` most recently used entries.
    """
    entry = os.path.join(cache_dir, "text-" + _params_key(seed, params))
    path = os.path.join(entry, "input.txt")
    counts_path = os.path.join(entry, "counts.npz")
    if not os.path.exists(counts_path):
        vocab, ids = draw_tokens(seed, params)
        text = render_text(np.random.default_rng([seed, 1]), vocab, ids)
        tmp = entry + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "input.txt"), "w", encoding="utf-8") as fh:
            fh.write(text)
        counts = np.bincount(ids, minlength=len(vocab))
        nz = np.flatnonzero(counts)
        np.savez(os.path.join(tmp, "counts.npz"),
                 words=vocab[nz].astype(str), counts=counts[nz])
        shutil.rmtree(entry, ignore_errors=True)
        os.rename(tmp, entry)
        _prune(cache_dir, "text-", keep)
    os.utime(entry)
    with np.load(counts_path) as npz:
        counts = dict(zip(npz["words"].tolist(), npz["counts"].tolist()))
    return TextInput(path, counts)


def _prune(cache_dir: str, prefix: str, keep: int) -> None:
    entries = [os.path.join(cache_dir, e) for e in os.listdir(cache_dir)
               if e.startswith(prefix) and not e.endswith(".tmp")]
    entries.sort(key=os.path.getmtime, reverse=True)
    for stale in entries[keep:]:
        shutil.rmtree(stale, ignore_errors=True)

