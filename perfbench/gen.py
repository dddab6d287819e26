"""Seeded input generators and the input-property assertions.

Everything here is plain numpy/pandas: inputs are generated bench-side from
the seed, written as parquet, and the program under test only ever reads the
parquet. The same (seed, sizes) always give byte-identical tables.

Three generators:

* ``transcripts`` — conversation turns shaped like FIXTURES §1, with one head
  conversation holding a fixed share of all turns (salting skew), noise that
  exercises cleaning and the sentence splitter, nulls, headers and duplicate
  rows.
* ``gazetteer`` — a ChEMBL/Cellosaurus-sized dictionary whose anchor-group
  shape is controlled: more distinct anchor keys than tagging's IN-set cap,
  a few oversized multi-token groups, a median group of one, and planted
  alias variants. Group sizes are bounded so candidate volume stays linear.
* ``documents`` — documents with planted near-duplicate twins (the id rule
  of ``synth.documents_spark``) and planted exact copies.
"""

from __future__ import annotations

import random
import statistics
from collections import Counter

import numpy as np
import pandas as pd

from otar3088_spark.functions.lemma_data import IRREGULAR_PLURALS
from otar3088_spark.oracle import GENERIC_WORDS, alias_key, norm_key, prepare_dictionary
from otar3088_spark.synth import FILLER, HEADER_TEXTS, planted_dup_pairs

# tagging's plan-time anchor IN-set cap and bigram-anchor switch point
# (tag_mentions defaults): the gazetteer must sit on the far side of both
IN_SET_CAP = 50_000
BIGRAM_THRESHOLD = 64

LABELS = ["CellLine", "CellType", "Tissue", "Drug", "AdverseEvent"]
ROLES = ["user", "assistant", "tool"]
NOISE = ["{\\it latexnoise}", "[1, 23]", "\\textbf", "e.g.", "Smith et al. reported",
         "(see Fig. 2)", "J."]
TS0 = pd.Timestamp("2024-01-01")


class InputPropertyError(ValueError):
    """A generated input lacks a property its workload relies on."""


def _check(name: str, value, ok: bool, need: str) -> None:
    if not ok:
        raise InputPropertyError(f"input property {name!r} violated: got {value}, need {need}")


def _stream(seed: int, stream: str) -> list[int]:
    return [seed, sum(ord(c) << (8 * (i % 4)) for i, c in enumerate(stream))]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent deterministic numpy stream per (seed, generator)."""
    return np.random.default_rng(_stream(seed, stream))


def py_rng_for(seed: int, stream: str) -> random.Random:
    """Same, as a ``random.Random`` (cheap per-call draws for text loops)."""
    return random.Random(repr(_stream(seed, stream)))


# --------------------------------------------------------------------------
# surface variants
# --------------------------------------------------------------------------

def _surface(term: str, v: int) -> str:
    """Case, plural, possessive and hyphen variants the tagger and the
    model linker both claim to handle."""
    if v == 0:
        return term.upper()
    if v == 1:
        return term.capitalize()
    if v == 2 and not term.endswith("s"):
        return term + "s"
    if v == 3 and not term.endswith("s"):
        return term + "'s"
    if v == 4 and " " in term:
        return term.replace(" ", "-")
    return term


def _sentence(rng: random.Random, terms: list[str], max_mentions: int) -> str:
    words = rng.choices(FILLER, k=rng.randrange(4, 10))
    for _ in range(rng.randrange(max_mentions + 1)):
        words.insert(rng.randrange(len(words) + 1), _surface(rng.choice(terms), rng.randrange(6)))
    noise = rng.randrange(12)
    if noise < len(NOISE):
        words.insert(len(words) // 2, NOISE[noise])
    sent = " ".join(words) + "."
    if noise == 9:
        sent = sent.replace(" ", "  ", 1)
    return sent


# --------------------------------------------------------------------------
# transcripts
# --------------------------------------------------------------------------

def transcripts(seed: int, n_turns: int, terms: list[str], head_share: float = 0.05,
                max_mentions: int = 2) -> pd.DataFrame:
    """``n_turns`` turns; ``head_share`` of them belong to one conversation
    (``conv_head``), the rest to conversations of 3-14 turns."""
    rng = py_rng_for(seed, "transcripts")
    head_n = int(n_turns * head_share)
    conv_ids: list[str] = ["conv_head"] * head_n
    turn_idx: list[int] = list(range(head_n))
    c = 0
    while len(conv_ids) < n_turns:
        k = min(rng.randrange(3, 15), n_turns - len(conv_ids))
        conv_ids += [f"conv_{c:07d}"] * k
        turn_idx += list(range(k))
        c += 1
    texts: list[str | None] = []
    for i in range(n_turns):
        r = rng.random()
        if r < 0.01:
            texts.append(None)
        elif r < 0.02:
            texts.append(rng.choice(HEADER_TEXTS))
        else:
            texts.append(" ".join(_sentence(rng, terms, max_mentions)
                                  for _ in range(rng.randrange(1, 4))))
    df = pd.DataFrame({
        "conv_id": conv_ids,
        "turn_idx": np.asarray(turn_idx, dtype="int32"),
        "role": [ROLES[t % 3] for t in turn_idx],
        "text": texts,
        "tool": None,
        "ts": (TS0 + pd.to_timedelta(np.arange(n_turns), unit="s")).astype("datetime64[us]"),
    })
    # ~1% exact duplicate rows (P0 key dedup)
    dup = df.iloc[sorted(rng.sample(range(n_turns), max(1, n_turns // 100)))]
    return pd.concat([df, dup], ignore_index=True)


def check_transcripts(df: pd.DataFrame, head_share: float) -> dict:
    sizes = df.drop_duplicates(["conv_id", "turn_idx"]).groupby("conv_id").size()
    share = float(sizes.get("conv_head", 0)) / float(sizes.sum())
    _check("head_conversation_share", round(share, 4), abs(share - head_share) <= 0.01,
           f"{head_share} +- 0.01")
    return {"head_conversation_share": round(share, 4), "turns": int(sizes.sum())}


# --------------------------------------------------------------------------
# gazetteer
# --------------------------------------------------------------------------

def _words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pseudo-words (6-8 letters) that cannot collide with
    filler, generic words, plural/possessive forms or the red-list."""
    letters = np.frombuffer(b"abcdefghijklmnopqrtuvwxyz", dtype=np.uint8)  # no 's'
    banned = set(FILLER) | set(GENERIC_WORDS)
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        m = (n - len(out)) * 11 // 10 + 16
        lens = rng.integers(6, 9, size=m)
        codes = letters[rng.integers(0, len(letters), size=(m, 8))]
        for row, ln in zip(codes, lens):
            w = row[:ln].tobytes().decode()
            if w in seen or w in banned or w.endswith(("ial", "yal", "cytic")):
                continue
            seen.add(w)
            out.append(w)
            if len(out) == n:
                break
    return out


def gazetteer(seed: int, n_first: int = 17_500, n_heads: int = 3, head_width: int = 80,
              alias_frac: float = 0.03) -> pd.DataFrame:
    """Dictionary ``(ent_id, term, label, canonical_id)``.

    * ``n_first`` entities with their own first token (1-3 tokens each);
      each first token yields three anchor keys (itself, plural,
      possessive), so 17,500 of them put the anchor set past the IN-set
      cap and tagging takes the join fallback;
    * ``n_heads`` first tokens that each start ``head_width`` two-token
      terms (oversized groups: tagging switches them to bigram anchors);
    * ``alias_frac`` of the entities get one alias variant row (spacing,
      hyphen, case or generic-word) sharing their canonical id and alias key.
    Every lower-cased term carries one label, so label resolution has no
    corpus-dependent tie to break.
    """
    rng = rng_for(seed, "gazetteer")
    n_tok = rng.choice([1, 2, 3], size=n_first, p=[0.5, 0.4, 0.1])
    vocab = _words(rng, int(n_tok.sum()) + n_heads * (head_width + 1))
    rows: list[tuple[str, str, str, str]] = []
    pos = 0
    for i in range(n_first):
        k = int(n_tok[i])
        rows.append((f"G{i:07d}", " ".join(vocab[pos:pos + k]), LABELS[int(rng.integers(5))],
                     f"K{i:07d}"))
        pos += k
    for h in range(n_heads):
        head = vocab[pos]
        pos += 1
        lab = LABELS[h % 5]
        for j in range(head_width):
            rows.append((f"H{h}{j:05d}", f"{head} {vocab[pos]}", lab, f"KH{h}{j:05d}"))
            pos += 1
    n_alias = int(n_first * alias_frac)
    for i in rng.choice(n_first, size=n_alias, replace=False):
        ent, term, lab, canon = rows[int(i)]
        kind = int(rng.integers(4))
        if kind == 0:
            alias = f"{term} {int(rng.integers(10, 100))}"
            rows[int(i)] = (ent, alias, lab, canon)
            alias = alias.replace(" ", "")  # spacing: "abc 12" ~ "abc12"
        elif kind == 1:
            alias = term.replace(" ", "-") if " " in term else f"{term}-{int(rng.integers(2, 10))}"
            if " " not in term:
                rows[int(i)] = (ent, alias.replace("-", " "), lab, canon)
        elif kind == 2:
            alias = term[:1].upper() + term[1:3].upper() + term[3:]  # case
        else:
            alias = f"{term} cell"  # generic word
        rows.append((f"A{int(i):07d}", alias, lab, canon))
    return pd.DataFrame(rows, columns=["ent_id", "term", "label", "canonical_id"])


def _lemma_preimage(inverse: dict[str, list[str]]):
    """Surface forms whose lemma is ``t``: the anchor keys tagging derives
    from a dictionary token ``t`` (the forms ``norm_key`` maps onto it)."""
    def forms(t: str) -> list[str]:
        cands = (t, t + "s", t + "'s", *inverse.get(t, ()))
        return [k for k in cands if norm_key(k, IRREGULAR_PLURALS) == t]
    return forms


def dictionary_stats(d: pd.DataFrame) -> dict:
    """Anchor-group shape and alias clustering of a dictionary, on the rows
    tagging keeps. ``distinct_anchor_keys`` mirrors the key set whose size
    ``tag_mentions`` compares with its IN-set cap: every lemma form of a
    term's first token, or of its first two tokens where the first-form
    group is oversized."""
    p = prepare_dictionary(d)
    inverse: dict[str, list[str]] = {}
    for k, v in IRREGULAR_PLURALS.items():
        inverse.setdefault(v, []).append(k)
    forms = _lemma_preimage(inverse)
    nd = [[norm_key(t, IRREGULAR_PLURALS) for t in ts] for ts in p["term_tokens"]]
    multi = Counter(f for ts in nd if len(ts) >= 2 for f in forms(ts[0]))
    oversized = {f for f, c in multi.items() if c > BIGRAM_THRESHOLD}
    keys: set[str] = set()
    for ts in nd:
        for f1 in forms(ts[0]):
            if len(ts) >= 2 and f1 in oversized:
                keys.update(f"{f1} {f2}" for f2 in forms(ts[1]))
            else:
                keys.add(f1)
    groups = Counter(p["first_tok"])
    akeys = Counter(k for k in d["term"].map(alias_key) if k)
    return {
        "distinct_first_tokens": len(groups),
        "distinct_anchor_keys": len(keys),
        "max_multi_token_group": max(multi.values(), default=0),
        "median_anchor_group": float(statistics.median(groups.values())),
        "max_alias_cluster": max(akeys.values(), default=0),
    }


def check_gazetteer(d: pd.DataFrame) -> dict:
    s = dictionary_stats(d)
    _check("distinct_anchor_keys", s["distinct_anchor_keys"],
           s["distinct_anchor_keys"] > IN_SET_CAP, f"> {IN_SET_CAP}")
    _check("max_multi_token_group", s["max_multi_token_group"],
           s["max_multi_token_group"] > BIGRAM_THRESHOLD, f"> {BIGRAM_THRESHOLD}")
    _check("median_anchor_group", s["median_anchor_group"],
           s["median_anchor_group"] <= 2, "<= 2")
    _check("max_alias_cluster", s["max_alias_cluster"], s["max_alias_cluster"] >= 2, ">= 2")
    return s


def mention_terms(d: pd.DataFrame, seed: int, n: int) -> list[str]:
    """Terms the bigdict corpus mentions: a seeded sample of the dictionary,
    with every oversized-group term included so bigram anchors do work."""
    rng = rng_for(seed, "mentions")
    multi = d["term"].str.split().map(len) >= 2
    heads = Counter(d.loc[multi, "term"].str.split().str[0])
    big = {h for h, c in heads.items() if c > BIGRAM_THRESHOLD}
    in_big = d["term"].str.split().str[0].isin(big) & multi
    rest = d.loc[~in_big, "term"].to_numpy()
    pick = rng.choice(len(rest), size=min(n, len(rest)), replace=False)
    return sorted(d.loc[in_big, "term"]) + sorted(rest[pick])


# --------------------------------------------------------------------------
# documents
# --------------------------------------------------------------------------

def documents(seed: int, n_docs: int, terms: list[str], dup_frac: float = 0.2,
              doc_tokens: int = 40) -> pd.DataFrame:
    """``(doc_id, text)``. Near-dup twins follow ``synth.documents_spark``'s
    id rule (odd id ``i`` with ``i % 1000 < 1000*dup_frac`` repeats doc
    ``i-1`` plus one token); odd ids with ``i % 1000 >= 950`` are exact
    copies of ``i-1`` up to case and spacing. Every other document carries a
    unique token, so no unplanted pair is near-duplicate."""
    rng = py_rng_for(seed, "documents")
    thr = int(round(dup_frac * 1000))
    texts: list[str] = []
    for i in range(n_docs):
        r = i % 1000
        if i % 2 == 1 and r < thr:
            texts.append(texts[i - 1] + " extradup.")
            continue
        if i % 2 == 1 and r >= 950:
            texts.append(texts[i - 1].upper().replace(" ", "  ", 3))
            continue
        sents, n = [], 0
        while n < doc_tokens:
            s = _sentence(rng, terms, 2)
            sents.append(s)
            n += s.count(" ") + 1
        sents.append(f"ref u{rng.getrandbits(62):x}.")
        texts.append(" ".join(sents))
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype="int64"), "text": texts})


def planted_pairs(n_docs: int, dup_frac: float = 0.2) -> set[tuple[int, int]]:
    thr = int(round(dup_frac * 1000))
    return {(i - 1, i) for i in range(1, n_docs, 2) if i % 1000 < thr}


def exact_copies(n_docs: int) -> set[int]:
    return {i for i in range(1, n_docs, 2) if i % 1000 >= 950}


def check_documents(df: pd.DataFrame, dup_frac: float = 0.2) -> dict:
    n = len(df)
    pairs = planted_pairs(n, dup_frac)
    text = dict(zip(df["doc_id"], df["text"]))
    twins = sum(1 for a, b in pairs if text[b] == text[a] + " extradup.")
    want = planted_dup_pairs(n, dup_frac)
    _check("planted_dup_pairs", twins, twins == want, f"== {want}")
    # equal once exact_dedup normalizes case and whitespace
    norm = {i: " ".join(t.lower().split()) for i, t in text.items()}
    copies = sum(1 for i in exact_copies(n) if norm[i] == norm[i - 1])
    _check("exact_copies", copies, copies > 0, "> 0")
    return {"planted_dup_pairs": twins, "exact_copies": copies}
