"""Seeded workload generator for the kgpipe benchmark.

Everything here is a pure function of the seed: a synthetic OBO ontology
and a transcript table with planted concept mentions at known character
offsets (the golden set the output check scores against).

Vocabulary design, so that the golden set is exact by construction:

- ontology words always start with ``q`` or ``z`` and are built from the
  consonants ``b k m p t v x`` and the vowels ``a o u``; no Porter suffix
  rule can fire on such a word, so every word is its own stem and two
  distinct words never normalize to the same token;
- filler words (conversation text, tool logs, hex ids, paths) never contain
  ``q`` or ``z`` in any case, so text outside a planted span can never reach
  the dictionary trie;
- planted mentions are always separated by at least one filler token, so
  the longest-match scan cannot join two of them.

The only ambiguity is deliberate: a few synonyms are shared by two
concepts.  kgpipe canonicalizes such concepts into one component, so the
golden record of a planted mention carries the whole component as its
accepted concept set.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass
from itertools import accumulate

OBO_PREFIX = "http://purl.obolibrary.org/obo/"
ONTOLOGY = "KGB"

_T_CONS = "bkmptvx"
_T_VOW = "aou"
_F_CONS = "bcdfghjklmnprstvw"  # no q, no z
_F_VOW = "aeiou"
_FUNCTION_WORDS = (
    "the of and to in is it that for on with as was this be at by not are "
    "from or have an they which one you we all were can there been has if "
    "more when will would who so no out up into than them then some could "
    "what about these its only other just also new after use how our work "
    "first well way even because any each most very through back much"
).split()
_LEVELS = ("INFO", "DEBUG", "WARN", "ERROR")
_TOOLS = ("bash", "read_file", "search", "python")
PARQUET_FILES = 8


def concept_uri(cid: str) -> str:
    return OBO_PREFIX + cid.replace(":", "_")


@dataclass
class Ontology:
    obo_text: str
    n_terms: int                     # live (non-obsolete) terms
    n_variants: int                  # distinct plantable variant strings
    plantable: list[tuple[str, str]]  # (variant, concept_id), live terms only
    component: dict[str, tuple[str, ...]]  # concept -> its synonym component


@dataclass
class Corpus:
    rows: list[dict]     # transcripts(conv_id, turn_idx, role, text, tool)
    # (conv_id, turn_idx, begin, end, surface, accepted concept URIs)
    golden: list[tuple]
    n_structure: int     # exact count of structure triples
    stats: dict          # corpus statistics stamped on every result


class _Zipf:
    """Zipf(s) sampler over a population."""

    def __init__(self, population: list, s: float):
        self.population = population
        self.cum = list(accumulate(1.0 / (r ** s)
                                   for r in range(1, len(population) + 1)))

    def sample(self, rng: random.Random, k: int) -> list:
        return rng.choices(self.population, cum_weights=self.cum, k=k)


def _word(rng: random.Random, first: str, cons: str, vow: str,
          n_syl: int, tail: bool) -> str:
    w = first + "".join(rng.choice(cons) + rng.choice(vow)
                        for _ in range(n_syl))
    return w + rng.choice(cons) if tail else w


def _distinct(make, n: int, taken: set[str]) -> list[str]:
    out = []
    while len(out) < n:
        w = make()
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


# ---------------------------------------------------------------------------
# ontology
# ---------------------------------------------------------------------------

def make_ontology(seed: int, n_terms: int) -> Ontology:
    """A cl-basic-shaped OBO file with *n_terms* live terms: 1-3 word names
    (many ending in one of a few shared head words), EXACT multi-token
    synonyms, acronyms, RELATED synonyms (which the default EXACT_ONLY
    config drops), obsolete terms and synonyms shared by two concepts."""
    rng = random.Random(f"onto-{seed}")
    words = _distinct(
        lambda: _word(rng, rng.choice("qz") + rng.choice(_T_VOW), _T_CONS,
                      _T_VOW, rng.randint(1, 3), True),
        max(64, n_terms // 2), set())
    heads, body = words[:24], words[24:]
    used: set[str] = set()

    def phrase() -> str:
        while True:
            toks = rng.sample(body, rng.choice((1, 2, 2, 3)))
            if len(toks) > 1 and rng.random() < 0.4:
                toks[-1] = rng.choice(heads)
            p = " ".join(toks)
            if p not in used:
                used.add(p)
                return p

    def acronym() -> str:
        return _distinct(lambda: "Q" + "".join(
            rng.choice("BKMPTVXQZ") for _ in range(rng.randint(3, 5))),
            1, used)[0]

    n_obsolete = max(1, n_terms // 50)
    ids = [f"{ONTOLOGY}:{i:07d}" for i in range(n_terms + n_obsolete)]
    obsolete = set(rng.sample(range(len(ids)), n_obsolete))
    live = [cid for i, cid in enumerate(ids) if i not in obsolete]
    name = {cid: phrase() for cid in ids}
    exact = {cid: [phrase() for _ in range(rng.choice((0, 1, 1, 2, 3)))]
             for cid in ids}
    for cid in ids:
        if rng.random() < 0.05:
            exact[cid].append(acronym())
    related = {cid: [phrase() for _ in range(rng.randint(0, 1))]
               for cid in ids}

    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for _ in range(max(1, len(live) // 200)):
        ca, cb = rng.sample(live, 2)
        s = phrase()
        exact[ca].append(s)
        exact[cb].append(s)
        ra, rb = find(ca), find(cb)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    lines = ["format-version: 1.2", f"ontology: {ONTOLOGY.lower()}", ""]
    for i, cid in enumerate(ids):
        lines += ["[Term]", f"id: {cid}", f"name: {name[cid]}",
                  f"namespace: {ONTOLOGY.lower()}"]
        lines += [f'synonym: "{s}" EXACT []' for s in exact[cid]]
        lines += [f'synonym: "{s}" RELATED []' for s in related[cid]]
        if i and rng.random() < 0.8:
            lines.append(f"is_a: {ids[rng.randrange(i)]}")
        if i in obsolete:
            lines.append("is_obsolete: true")
        lines.append("")
    members: dict[str, list[str]] = {}
    for cid in live:
        members.setdefault(find(cid), []).append(cid)
    plantable = [(v, cid) for cid in live for v in [name[cid]] + exact[cid]]
    return Ontology(
        obo_text="\n".join(lines) + "\n",
        n_terms=len(live),
        n_variants=len({v for v, _ in plantable}),
        plantable=plantable,
        component={cid: tuple(members[find(cid)]) for cid in live},
    )


# ---------------------------------------------------------------------------
# transcripts
# ---------------------------------------------------------------------------

class _Turn:
    """Builds one turn's text piece by piece, tracking planted offsets."""

    def __init__(self):
        self.parts: list[str] = []
        self.pos = 0
        self.planted: list[tuple[int, int, str, str]] = []

    def add(self, piece: str, sep: str = " ") -> None:
        if self.parts:
            self.parts.append(sep)
            self.pos += len(sep)
        self.parts.append(piece)
        self.pos += len(piece)

    def plant(self, surface: str, cid: str) -> None:
        self.add(surface)
        self.planted.append((self.pos - len(surface), self.pos, surface, cid))

    def text(self) -> str:
        return "".join(self.parts)


class _Text:
    """Filler vocabulary and mention picker shared by every turn kind."""

    def __init__(self, rng: random.Random, onto: Ontology):
        self.rng = rng
        vocab = list(_FUNCTION_WORDS) + _distinct(
            lambda: _word(rng, "", _F_CONS, _F_VOW, rng.randint(1, 4),
                          rng.random() < 0.5),
            50_000 - len(_FUNCTION_WORDS), set(_FUNCTION_WORDS))
        self.words = _Zipf(vocab, 1.07)
        self.mentions = _Zipf(onto.plantable, 0.9)

    def mention(self) -> tuple[str, str]:
        """A planted surface: the variant as written, capitalized, or (when
        its last token is an ontology word) plural."""
        variant, cid = self.mentions.sample(self.rng, 1)[0]
        r = self.rng.random()
        if variant.isupper():
            return variant, cid
        if r < 0.15:
            return variant[0].upper() + variant[1:], cid
        if r < 0.30:
            return variant + "s", cid
        return variant, cid

    def prose(self, t: _Turn, n_chars: int, n_plant: int) -> None:
        """Sentences of Zipf filler up to ~*n_chars*, with *n_plant*
        mentions at odd word slots (so never adjacent to each other)."""
        rng = self.rng
        n_words = max(2 * n_plant + 1, n_chars // 6)
        slots = {2 * s + 1 for s in rng.sample(range(n_words // 2), n_plant)}
        sent = 0
        for wi, w in enumerate(self.words.sample(rng, n_words)):
            if sent == 0:
                w = w.capitalize()
            if wi in slots:
                t.add(w)
                t.plant(*self.mention())
                sent += 1
                continue
            end = sent >= 6 and rng.random() < 0.12
            t.add(w + "." if end else w)
            sent = 0 if end else sent + 1
        if not t.parts[-1].endswith("."):
            t.add(".", "")

    def tool_log(self, t: _Turn, n_chars: int, n_plant: int) -> None:
        """Tool output: log lines of timestamps, paths, hex ids and numbers
        (mostly unique tokens), a few lines carrying a planted mention."""
        rng = self.rng
        lines = []
        size = 0
        while size < n_chars:
            path = "/".join(self.words.sample(rng, rng.randint(2, 4)))
            msg = " ".join(self.words.sample(rng, rng.randint(2, 6)))
            line = (
                f"2025-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T"
                f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:"
                f"{rng.randint(0, 59):02d}.{rng.randint(0, 999):03d}Z "
                f"{rng.choice(_LEVELS)} pid={rng.randint(100, 99999)} "
                f"/{path}/{rng.getrandbits(32):08x}."
                f"{rng.choice(('log', 'json', 'csv', 'txt'))} {msg} "
                f"took={rng.random() * 1000:.3f}ms "
                f"id={rng.getrandbits(64):016x} rows={rng.randint(0, 10**6)}"
            )
            lines.append(line)
            size += len(line) + 1
        planted = set(rng.sample(range(len(lines)), min(n_plant, len(lines))))
        for li, line in enumerate(lines):
            t.add(line, "\n")
            if li in planted:
                t.add("entity")
                t.plant(*self.mention())
                t.add("resolved")


def make_corpus(seed: int, onto: Ontology, kind: str, n_turns: int) -> Corpus:
    """Exactly *n_turns* transcript turns of *kind* ``chat`` (short
    Zipf-length conversations of ~300-char prose turns) or ``agent``
    (user/assistant turns beside 1-4k-char tool-log turns, a few with null
    text).  The last conversation is cut short at *n_turns*, so that every
    seed gives a table of the same size."""
    if kind not in ("chat", "agent"):
        raise ValueError(f"unknown corpus kind {kind!r}")
    rng = random.Random(f"corpus-{seed}")
    gen = _Text(rng, onto)
    rows: list[dict] = []
    golden: list[tuple] = []
    n_structure = 0

    def emit(conv_id, ti, role, tool, t: _Turn | None) -> None:
        nonlocal n_structure
        text = t.text() if t is not None else None
        rows.append({"conv_id": conv_id, "turn_idx": ti, "role": role,
                     "text": text, "tool": tool})
        n_structure += 2 + (tool is not None)  # partOf, hasRole, usedTool
        for b, e, surface, cid in (t.planted if t is not None else ()):
            golden.append((conv_id, ti, b, e, surface, tuple(
                concept_uri(c) for c in onto.component[cid])))

    def zipf_len(cap: int) -> int:
        return min(cap, int(1.0 / max(rng.random(), 1e-9) ** 0.7))

    tag = f"{seed % 1000:03d}"
    ci = 0
    while len(rows) < n_turns:
        conv_id = f"c{tag}{ci:07d}"
        ci += 1
        n_structure += 1  # rdf:type
        if kind == "chat":
            for ti in range(min(zipf_len(50), n_turns - len(rows))):
                t = _Turn()
                n_chars = int(max(40, rng.lognormvariate(math.log(300), 0.5)))
                gen.prose(t, n_chars, rng.randint(1, 5))
                emit(conv_id, ti, "user" if ti % 2 == 0 else "assistant",
                     None, t)
            continue
        for ti in range(min(2 * zipf_len(40) + 1, n_turns - len(rows))):
            if ti % 2 == 0:
                t = _Turn()
                gen.prose(t, rng.randint(60, 240), rng.randint(0, 2))
                emit(conv_id, ti, "user" if ti == 0 else "assistant", None, t)
                continue
            tool = rng.choice(_TOOLS)
            if rng.random() < 0.04:
                emit(conv_id, ti, "tool", tool, None)
                continue
            t = _Turn()
            gen.tool_log(t, rng.randint(1000, 4000), rng.randint(0, 3))
            emit(conv_id, ti, "tool", tool, t)
    texts = [r["text"] for r in rows if r["text"] is not None]
    stats = {
        "turns": len(rows),
        "conversations": ci,
        "mean_chars_per_turn": round(sum(map(len, texts)) / len(rows), 1),
        "null_text_turns": len(rows) - len(texts),
        "planted_mentions": len(golden),
        "mentions_per_turn": round(len(golden) / len(rows), 3),
    }
    return Corpus(rows, golden, n_structure, stats)


def write_parquet(rows: list[dict], path: str) -> None:
    """Transcripts as a parquet table in kgpipe's input schema, split into
    PARQUET_FILES files so that the read has parallelism."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ])
    base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // PARQUET_FILES)
    for k in range(PARQUET_FILES):
        chunk = rows[k * step:(k + 1) * step]
        if not chunk:
            continue
        cols = {c: [r[c] for r in chunk]
                for c in ("conv_id", "turn_idx", "role", "text", "tool")}
        cols["ts"] = [base + dt.timedelta(seconds=30 * r["turn_idx"])
                      for r in chunk]
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(path, f"part-{k:05d}.parquet"))
