"""Seeded benchmark inputs, cached by seed and parameters.

Two kinds of input, both written under the benchmark's work directory:

* a raw-text corpus (``text_corpus``) for the reference word count: a
  directory of plain text files whose tokens are Zipf-distributed over
  a generated base vocabulary, with capitalised, upper-case and
  punctuated variants so that token normalization and the vocab-sized
  shuffle do real work;
* a parquet fixture (``fixture``) made by the repository's own
  ``scripts/gen_altfixture.py`` with the repository's table schemas.

The program under test only ever receives the generated files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np

PUNCT = list(".,;:!?\"'()-")


def _cached(root: str, key: dict, make) -> str:
    """Directory for ``key`` under ``root``, built by ``make(dir)`` once.

    A ``<dir>.json`` beside it, written last, marks the directory
    complete, so an interrupted build is redone rather than reused.  It
    sits outside the directory because the program reads every file
    inside."""
    name = "-".join(f"{k}{v}" for k, v in key.items())
    out = os.path.join(root, name)
    marker = out + ".json"
    if os.path.isfile(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    make(out)
    with open(marker, "w") as f:
        json.dump(key, f)
    return out


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lower-case ASCII base words, 2-12 letters."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")
    words: set[str] = set()
    while len(words) < n:
        lens = rng.integers(2, 13, n)
        chars = letters[rng.integers(0, 26, int(lens.sum()))]
        flat = b"".join(chars.tolist()).decode()
        pos = 0
        for ln in lens.tolist():
            words.add(flat[pos:pos + ln])
            pos += ln
    return np.array(sorted(words)[:n], dtype=object)


def _surface(rng: np.random.Generator, base: np.ndarray) -> list[str]:
    """Surface forms of ``base`` tokens: 80 % as is, 10 % Capitalised,
    3 % UPPER, 7 % with a punctuation mark before or after."""
    kind = rng.random(len(base))
    punct = rng.integers(0, len(PUNCT), len(base))
    out = []
    for w, k, p in zip(base.tolist(), kind.tolist(), punct.tolist()):
        if k < 0.80:
            out.append(w)
        elif k < 0.90:
            out.append(w.capitalize())
        elif k < 0.93:
            out.append(w.upper())
        elif k < 0.965:
            out.append(w + PUNCT[p])
        else:
            out.append(PUNCT[p] + w)
    return out


def text_corpus(root: str, seed: int, files: int, tokens_per_file: int,
                vocab: int, zipf_a: float = 1.2, tokens_per_line: int = 12) -> str:
    """Directory of ``files`` text files of ``tokens_per_file`` tokens each."""

    def make(out: str) -> None:
        rng = np.random.default_rng(seed)
        words = _vocab(rng, vocab)
        for i in range(files):
            # ranks past the vocabulary wrap around, so that every file
            # has exactly ``tokens_per_file`` tokens whatever the seed
            ranks = (rng.zipf(zipf_a, tokens_per_file) - 1) % vocab
            toks = _surface(rng, words[ranks])
            lines = (
                " ".join(toks[j:j + tokens_per_line])
                for j in range(0, len(toks), tokens_per_line)
            )
            with open(os.path.join(out, f"part_{i:04d}.txt"), "w") as f:
                f.write("\n".join(lines))
                f.write("\n")

    key = {"text_s": seed, "_f": files, "_t": tokens_per_file, "_v": vocab, "_a": zipf_a}
    return _cached(root, key, make)


def fixture(root: str, repo: str, seed: int, scale: float, skew_mode: str = "normal") -> str:
    """Parquet fixture from ``scripts/gen_altfixture.py``."""

    def make(out: str) -> None:
        subprocess.run(
            [sys.executable, os.path.join(repo, "scripts", "gen_altfixture.py"),
             "--out", out, "--seed", str(seed), "--scale", str(scale),
             "--skew-mode", skew_mode],
            check=True, stdout=subprocess.DEVNULL,
        )

    key = {"fx_s": seed, "_x": scale, "_k": skew_mode}
    return _cached(root, key, make)


def corpus_lines(path: str) -> list[str]:
    """Every line of every file of a text corpus, in file order."""
    lines: list[str] = []
    for name in sorted(os.listdir(path)):
        if name.endswith(".txt"):
            with open(os.path.join(path, name)) as f:
                lines.extend(f.read().splitlines())
    return lines
