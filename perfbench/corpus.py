"""Vocabulary-heavy page corpus with planted ground truth.

The standard generator (``sources.pages``) draws every page from a 43-entity
catalog, so the distinct-norm vocabulary never passes ``dedup.py``'s
300-norm pairwise threshold and the LSH banding, ratio verify and grouped
merge never run. This generator plants a seeded vocabulary of thousands of
entities in the mock-LLM surface grammar (``kernels/mockllm.py``), each
mentioned under up to five surface forms:

- the plain name ``Aaaa Bbbb Cccc`` (three tokens, at least 23 characters);
- the reversed token order ``Cccc Bbbb Aaaa`` (same token-sorted norm, so
  the exact-norm edge joins it);
- one fixed one-substitution misspelling (indel ratio >= 95.4 against the
  plain name, so only the fuzzy LSH + verify path can join it);
- the aliases ``Aaaa Bbbb`` and ``Bbbb Cccc`` through an
  ``(also known as ...)`` marker.

Names are built so that no two entities can be joined: each slot draws from
its own word list whose words start with letters no other slot uses (token
sort order is fixed, and the misspelling never touches a first letter), the
words of one list are at Levenshtein distance >= 4 from each other, and two
entities share at most one token (slot triples ``(a, b, a+b mod P)``). Any
two distinct entities therefore differ by at least 8 edits, far below the
95 ratio even when both are misspelled.

Truth is recorded while generating, never derived from the code under test.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

from mmkg_rag_spark.kernels.mockllm import LABEL_PHRASES, RELATION_PHRASES

_FIRST = {"a": "BCDF", "b": "GHJK", "c": "LMNP"}
_VOWELS = "aeiou"
_INNER = "bcdfghjklmnprstvz"


def _h(*parts) -> int:
    raw = ":".join(str(p) for p in parts).encode()
    return int.from_bytes(hashlib.sha256(raw).digest()[:8], "big")


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _word_list(rng: random.Random, first_letters: str, n: int) -> list[str]:
    words: list[str] = []
    while len(words) < n:
        length = rng.choice((7, 8, 9))
        w = rng.choice(first_letters) + "".join(
            rng.choice(_VOWELS if i % 2 == 0 else _INNER) for i in range(length - 1)
        )
        if all(_levenshtein(w, x) >= 4 for x in words):
            words.append(w)
    return words


def _smallest_prime_at_least(n: int) -> int:
    p = max(2, n)
    while any(p % d == 0 for d in range(2, int(p**0.5) + 1)):
        p += 1
    return p


@dataclass
class Entity:
    name: str
    reversed_name: str
    misspelled: str
    aliases: tuple[str, str]
    kind: str
    desc: str


def vocabulary(n_entities: int, seed: int) -> list[Entity]:
    """The seeded entity vocabulary (pure function of its arguments)."""
    rng = random.Random(_h("vocab", seed, n_entities))
    p = _smallest_prime_at_least(int(n_entities**0.5) + 1)
    words = {slot: _word_list(rng, first, p) for slot, first in _FIRST.items()}
    kinds = sorted(LABEL_PHRASES)
    out: list[Entity] = []
    for e in range(n_entities):
        a, b = e % p, e // p
        toks = [words["a"][a], words["b"][b], words["c"][(a + b) % p]]
        # misspell one token at a non-initial position, vowel for vowel or
        # consonant for consonant, so the token keeps its sort position
        t = rng.randrange(3)
        pos = rng.randrange(1, len(toks[t]))
        pool = _VOWELS if toks[t][pos] in _VOWELS else _INNER
        sub = rng.choice([ch for ch in pool if ch != toks[t][pos]])
        bad = list(toks)
        bad[t] = toks[t][:pos] + sub + toks[t][pos + 1:]
        out.append(Entity(
            name=" ".join(toks),
            reversed_name=" ".join(reversed(toks)),
            misspelled=" ".join(bad),
            aliases=(f"{toks[0]} {toks[1]}", f"{toks[1]} {toks[2]}"),
            kind=kinds[rng.randrange(len(kinds))],
            desc=f"curates archive collection {e} for the regional registry",
        ))
    return out


@dataclass
class Truth:
    """Planted ground truth of the pages generated so far."""

    forms: dict[int, set[str]] = field(default_factory=dict)  # entity → surface forms seen
    triples: set[tuple[int, str, int]] = field(default_factory=set)


_VERBS = sorted(RELATION_PHRASES)


def vocab_pages(
    vocab: list[Entity], seed: int, start: int, count: int, truth: Truth
) -> list[tuple[str, str]]:
    """Pages ``start .. start+count-1`` as (url, text); records their truth."""
    pages = []
    for d in range(start, start + count):
        rng = random.Random(_h("page", seed, d))
        chosen = rng.sample(range(len(vocab)), rng.randint(3, 6))
        paras = [f"# Field notes {d}"]
        used: dict[int, str] = {}
        for e in chosen:
            ent = vocab[e]
            roll = rng.random()
            seen = truth.forms.setdefault(e, set())
            marker = ""
            if roll < 0.40:
                form = ent.name
            elif roll < 0.55:
                form = ent.reversed_name
            elif roll < 0.70:
                form = ent.misspelled
            else:
                form = ent.name
                marker = " (also known as " + "; ".join(ent.aliases) + ")"
                seen.update(ent.aliases)
            seen.add(form)
            used[e] = form
            article = "an" if ent.kind[0] in "aeiou" else "a"
            paras.append(f"**{form}**{marker} is {article} {ent.kind} that {ent.desc}.")
        for _ in range(rng.randint(1, 3)):
            src, dst = rng.sample(chosen, 2)
            verb = _VERBS[rng.randrange(len(_VERBS))]
            paras.append(f"**{used[src]}** {verb} **{used[dst]}**.")
            truth.triples.add((src, RELATION_PHRASES[verb], dst))
        pages.append((f"https://notes{d % 89}.test/page/{d}", "\n\n".join(paras)))
    return pages


def surface_index(vocab: list[Entity]) -> dict[str, int]:
    """Every surface form of every entity → its entity id."""
    idx: dict[str, int] = {}
    for e, ent in enumerate(vocab):
        for form in (ent.name, ent.reversed_name, ent.misspelled, *ent.aliases):
            idx[form] = e
    return idx
