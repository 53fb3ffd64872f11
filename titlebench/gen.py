"""Seeded input generator for the title-engine benchmark.

Every title is a knowledge-base variant dressed the way scraped feeds and HR
exports dress them: seniority prefixes and suffixes, locations, requisition
numbers, case and spacing noise, out-of-vocabulary tokens, and a small share
of NULL and empty titles.  Only ``random.Random(seed)`` draws are used, so
the same seed gives the same titles, byte for byte, on any host.
"""

from __future__ import annotations

import random
import string

PREFIXES = ["Senior", "Sr.", "Junior", "Jr", "Lead", "Principal", "Staff",
            "Chief", "Associate", "Assistant", "Head", "Entry Level"]
SUFFIXES = ["I", "II", "III", "IV", "(Remote)", "- Contract", "Part-Time",
            "(Hybrid)", "Level 2", "- Night Shift", "/ Trainee", "FT"]
LOCATIONS = ["New York, NY", "Austin TX", "London", "Berlin", "Toronto, ON",
             "Remote - US", "San Francisco", "Chicago IL", "Bangalore",
             "Sydney NSW", "Paris", "Denver, CO"]

NULL_SHARE = 0.01
EMPTY_SHARE = 0.005


def _pick(rng: random.Random, seq):
    return seq[int(rng.random() * len(seq))]


def _oov_token(rng: random.Random) -> str:
    return "".join(_pick(rng, string.ascii_lowercase) for _ in range(5 + int(rng.random() * 4)))


def _case_noise(rng: random.Random, s: str) -> str:
    r = rng.random()
    if r < 0.1:
        return s.upper()
    if r < 0.2:
        return s.lower()
    if r < 0.3:
        bits = rng.getrandbits(len(s))
        return "".join(c.upper() if bits >> i & 1 else c.lower() for i, c in enumerate(s))
    return s


def _spacing_noise(rng: random.Random, s: str) -> str:
    r = rng.random()
    if r < 0.08:
        return "  " + s + " "
    if r < 0.16:
        return s.replace(" ", "  ", 1)
    if r < 0.2:
        return s.replace(" ", "\t", 1)
    return s


def messy_title(rng: random.Random, corpus) -> str:
    """One non-NULL, non-empty messy title built around a KB variant."""
    parts = [_pick(rng, corpus)]
    if rng.random() < 0.35:
        parts.insert(0, _pick(rng, PREFIXES))
    if rng.random() < 0.3:
        parts.append(_pick(rng, SUFFIXES))
    if rng.random() < 0.3:
        parts.append(_pick(rng, ["- {}", "@ {}", "({})", "in {}"]).format(_pick(rng, LOCATIONS)))
    if rng.random() < 0.25:
        parts.append(_pick(rng, ["#", "Req ", "ID-", ""]) + str(100 + int(rng.random() * 99900)))
    if rng.random() < 0.2:
        parts.insert(int(rng.random() * (len(parts) + 1)), _oov_token(rng))
    return _spacing_noise(rng, _case_noise(rng, " ".join(parts)))


def distinct_slices(seed: int, corpus, n_slices: int, rows: int) -> list[list]:
    """``n_slices`` lists of ``rows`` titles each.  Non-empty titles are
    distinct within and across slices; every slice comes from the same
    distribution, so each pass can read fresh titles."""
    rng = random.Random(seed)
    seen: set[str] = set()
    slices = []
    for _ in range(n_slices):
        out: list = []
        while len(out) < rows:
            r = rng.random()
            if r < NULL_SHARE + EMPTY_SHARE:
                out.append(None if r < NULL_SHARE else "")
                continue
            t = messy_title(rng, corpus)
            if t not in seen:
                seen.add(t)
                out.append(t)
        slices.append(out)
    return slices


def repeated_slices(seed: int, corpus, n_slices: int, distinct: int, copies: int) -> list[list]:
    """``n_slices`` disjoint sets of ``distinct`` titles, each title repeated
    ``copies`` times and the rows shuffled."""
    rng = random.Random(seed + 2)
    out = []
    for titles in distinct_slices(seed, corpus, n_slices, distinct):
        rows = titles * copies
        rng.shuffle(rows)
        out.append(rows)
    return out


def split(rows: list, parts: int) -> list[list]:
    """Contiguous, near-equal chunks, one per task slot."""
    q, r = divmod(len(rows), parts)
    bounds = [0]
    for i in range(parts):
        bounds.append(bounds[-1] + q + (1 if i < r else 0))
    return [rows[bounds[i]:bounds[i + 1]] for i in range(parts)]
