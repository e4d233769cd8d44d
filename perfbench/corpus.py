"""Seeded source-code-shaped corpus for the KG-construction benchmark.

Same shape as ``kgforge.corpus`` (rows ``repo, path, commit, lang,
content``): a Go/text mix, one mega-repo owning ``MEGA_FACTOR`` times
the files of every other repo, and identifiers drawn from ~5k stems.
Unlike ``kgforge.corpus`` it is generated here, on the driver, from the
benchmark seed, so the program under test only ever sees the rows.

Every file body is a pure function of ``(seed, repo, path)``.  File sizes
follow ``kgforge.corpus`` (150 sentences per text file, three extra
funcs per Go file).  One deliberate departure: ``kgforge.corpus``
picks stems uniformly, here picks are skewed towards low stem indices
(u**3), so a few identifiers are hot (they appear in most files and
become the heavy merge keys, the hot-key skew of Scarlett, EuroSys
2011) while most are rare.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass
from typing import Dict, List

WORDS = [
    "spark", "shuffle", "partition", "vector", "column", "filter",
    "window", "stream", "batch", "merge", "scan", "join", "hash",
    "order", "table", "query", "index", "cache", "buffer", "codec",
]
_SUF1 = ["", "er", "ion", "ment", "ward", "most", "ize", "ish",
         "ful", "less", "ness", "able", "ous", "ive", "al", "ic"]
_SUF2 = ["", "beta", "core", "lite", "max", "neo", "pro", "ultra",
         "flux", "grid", "node", "zone", "rank", "sync", "wave", "mesh"]
N_STEMS = len(WORDS) * len(_SUF1) * len(_SUF2)  # 5120

# Syllables that never occur in a generated identifier: query keywords
# built from them miss every entity of the graph.
_MISS_SYLLABLES = ["qox", "vuj", "zyph", "kwib", "drul", "fenx"]

MEGA_FACTOR = 10
N_REPOS = 8
TEXT_SENTENCES = 150
GO_EXTRA_FUNCS = 3
COMMIT = "c0ffee"

# Query traffic: N_DISTINCT_QUERIES keyword strings, drawn in a closed
# loop.  Shares by kind: hot 1/2, rare 1/4, miss 1/4.  Hot strings name
# the HOT_STEMS lowest stems (the most-picked identifiers, so the
# heaviest graph keys); rare strings name a stem that occurs in exactly
# one file; miss strings match no entity, so the vector top-k returns
# its k nearest neighbours without an exact hit.
N_DISTINCT_QUERIES = 8
HOT_STEMS = 8
QUERY_KINDS = ("hot", "hot", "rare", "miss")


def ident(i: int) -> str:
    """Identifier stem ``i`` (0 <= i < N_STEMS): word + two suffixes."""
    return (
        WORDS[i % len(WORDS)]
        + _SUF1[(i // len(WORDS)) % len(_SUF1)]
        + _SUF2[(i // (len(WORDS) * len(_SUF1))) % len(_SUF2)]
    )


def _rng(*parts) -> random.Random:
    key = "/".join(str(p) for p in parts).encode()
    return random.Random(hashlib.blake2b(key, digest_size=8).digest())


def _pick(rng: random.Random) -> str:
    # u**3 skews picks towards low stem indices: stem 0 lands in
    # about one pick in 17, the upper half of the stems rarely.
    return ident(int(N_STEMS * rng.random() ** 3))


def _go_file(rng: random.Random) -> str:
    w = [_pick(rng) for _ in range(10)]
    cap = [x.capitalize() for x in w]
    n0, n1 = rng.randint(2, 98), rng.randint(1, 13)
    body = (
        f"package {w[0]}\n\n"
        'import (\n\t"fmt"\n\t"strings"\n)\n\n'
        f"const (\n\tMax{cap[0]} = {n0}\n\tMin{cap[1]} = {n1}\n)\n\n"
        f'var Default{cap[2]} = "{w[3]}"\n\n'
        f"type {cap[4]}Config struct {{\n\t{cap[5]} string\n"
        f"\t{cap[6]} int\n}}\n\n"
        f"// {cap[7]} runs the {w[8]} stage over {w[9]} and {w[0]} input.\n"
        f"func {cap[7]}(a, b int) int {{\n"
        f'\treturn a*{n0} + b + len(strings.Repeat("{w[1]}", {n1}))\n}}\n\n'
        f"func (c *{cap[4]}Config) {cap[2]}Name() string {{\n"
        f'\treturn fmt.Sprintf("%s-%d", c.{cap[5]}, c.{cap[6]})\n}}\n'
    )
    for i in range(GO_EXTRA_FUNCS):
        a, b = _pick(rng), _pick(rng)
        body += (
            f"\n// {a.capitalize()}{b.capitalize()}{i} derives {a} from"
            f" {b} samples.\n"
            f"func {a.capitalize()}{b.capitalize()}{i}(x int) int {{\n"
            f"\treturn x * {rng.randint(2, 32)}\n}}\n"
        )
    return body


def _text_file(rng: random.Random) -> str:
    return " ".join(
        f"The {_pick(rng)} stage feeds the {_pick(rng)} operator into"
        f" the {_pick(rng)} sink."
        for _ in range(TEXT_SENTENCES)
    )


def content(seed: int, repo: str, path: str) -> str:
    """File body: a pure function of (seed, repo, path)."""
    rng = _rng(seed, repo, path)
    return _go_file(rng) if path.endswith(".go") else _text_file(rng)


def file_list(seed: int, n_files: int) -> List[dict]:
    """``n_files`` (repo, path, lang) rows; repo 0 is the mega-repo."""
    shares = MEGA_FACTOR + N_REPOS - 1
    rng = _rng(seed, "files", n_files)
    rows = []
    for i in range(n_files):
        share = i * shares // n_files
        repo_idx = 0 if share < MEGA_FACTOR else share - MEGA_FACTOR + 1
        lang = "go" if rng.random() < 0.5 else "text"
        ext = ".go" if lang == "go" else ".txt"
        rows.append({
            "repo": f"example.com/s{seed}/repo{repo_idx}",
            "path": f"pkg/{i % 37}/file{i}{ext}",
            "lang": lang,
        })
    return rows


@dataclass
class Corpus:
    """Generated ``repos`` rows (repo, path, commit, lang, content)."""

    seed: int
    rows: List[dict]

    @staticmethod
    def doc_id(row: dict) -> str:
        # kgforge.chunking.doc_id_col: repo ':' path '@' commit
        return f"{row['repo']}:{row['path']}@{row['commit']}"

    def sha_by_doc(self) -> Dict[str, str]:
        return {
            self.doc_id(r): hashlib.sha256(r["content"].encode()).hexdigest()
            for r in self.rows
        }

    def input_bytes(self) -> int:
        return sum(len(r["content"].encode()) for r in self.rows)


def generate(seed: int, n_files: int) -> Corpus:
    rows = [
        dict(r, commit=COMMIT, content=content(seed, r["repo"], r["path"]))
        for r in file_list(seed, n_files)
    ]
    return Corpus(seed, rows)


def query_mix(corpus: Corpus, n_queries: int) -> List[tuple]:
    """Seeded closed-loop query sequence: ``n_queries`` (kind, text)
    pairs over ``N_DISTINCT_QUERIES`` distinct strings whose kinds
    cycle through ``QUERY_KINDS``.  Rare stems are taken from text
    files.  Strings repeat, so the benchmark
    can check that a repeated query answers the same."""
    stems = {ident(i) for i in range(N_STEMS)}
    freq: Dict[str, int] = {}
    for r in corpus.rows:
        if r["lang"] != "text":
            # Go package names never reach a chunk, so a stem seen
            # only there would not be an entity
            continue
        for w in set(words(r["content"])) & stems:
            freq[w] = freq.get(w, 0) + 1
    hot = [ident(i) for i in range(HOT_STEMS)]
    rare = sorted(w for w in freq if freq[w] == 1) or sorted(
        freq, key=lambda w: (freq[w], w)
    )[:HOT_STEMS]
    rng = _rng(corpus.seed, "queries")
    pool = []
    for i in range(N_DISTINCT_QUERIES):
        kind = QUERY_KINDS[i % len(QUERY_KINDS)]
        if kind == "hot":
            picked = rng.sample(hot, 2)
        elif kind == "rare":
            picked = [rng.choice(rare), rng.choice(rare)]
        else:
            picked = [
                "".join(rng.sample(_MISS_SYLLABLES, 3)),
                "".join(rng.sample(_MISS_SYLLABLES, 2)),
            ]
        pool.append((kind, " ".join(picked)))
    return [pool[rng.randrange(len(pool))] for _ in range(n_queries)]


def words(text: str) -> List[str]:
    """Lower-case [a-z]+ runs of length >= 4 (the heuristic extractor's
    entity words)."""
    out, cur = [], []
    for ch in text.lower():
        if "a" <= ch <= "z":
            cur.append(ch)
        elif cur:
            out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return [w for w in out if len(w) >= 4]
