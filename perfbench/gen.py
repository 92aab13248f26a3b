"""Seeded, single-process input generators for the three workloads.

Every generator is a pure function of its seed: ``random.Random`` streams
derived from ``(workload, seed)``, no wall clock, no Spark.  Each returns
the rows the engine will read (written to parquet by ``write_*``) plus the
side facts the output checks need (payload class and splice offset per
chat turn, planted tag-limit turns, planted duplicate pairs).  The engine
only ever receives the parquet tables.
"""

from __future__ import annotations

import datetime
import itertools
import random

# the document vocabulary of the repo's synthetic document corpus: these
# words carry no entity of any extraction family
DOC_VOCAB = ("spark", "window", "merge", "table", "column", "vector",
             "stream", "value", "data", "small", "join", "filter", "big",
             "group", "hash", "customer", "sort", "order", "slow", "line",
             "part", "fast", "row", "the", "agg", "key", "query", "a",
             "scan", "batch")

_MONTHS = ("JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG", "SEP",
           "OCT", "NOV", "DEC")
_TS0 = datetime.datetime(2025, 1, 1, tzinfo=datetime.timezone.utc)


def _rng(workload: str, seed: int) -> random.Random:
    return random.Random(f"{workload}/{seed}/")


# --- chat_mix -----------------------------------------------------------------

CHAT_TURNS = 3_000           # turns per pass
CHAT_LONG_CONVS = 3          # very long conversations ...
CHAT_LONG_SHARE = 0.08       # ... each holding this share of all turns


def _far_from_gazetteer(lat: float, lon: float, places) -> bool:
    # a random coordinate must not land near an embedded gazetteer place:
    # the coordinate-association rule would then move the confidence of a
    # pinned payload place match in the same turn
    for plat, plon in places:
        if abs(plat - lat) < 2.0 and abs(plon - lon) < 2.0:
            return False
    return True


# fragment kinds whose text is all lowercase: a lowercase payload keeps its
# pinned matches only inside an all-lowercase turn (tag filters treat a
# lowercase document differently)
_LOWER_KINDS = (1, 3, 4, 5, 6, 7)


def _random_fragment(rng: random.Random, places, lower: bool) -> str:
    kind = rng.choice(_LOWER_KINDS) if lower else rng.randrange(8)
    if kind == 0:
        while True:
            lat = rng.uniform(-70, 70)
            lon = rng.uniform(-179, 179)
            if _far_from_gazetteer(lat, lon, places):
                break
        return (f"position {abs(lat):.2f}{'N' if lat >= 0 else 'S'}, "
                f"{abs(lon):.2f}{'E' if lon >= 0 else 'W'} reported")
    if kind == 1:
        return (f"meeting on {rng.randint(1, 12):02d}/{rng.randint(1, 28):02d}"
                f"/{rng.randint(1990, 2024)} confirmed")
    if kind == 2:
        return (f"as of {rng.randint(1, 28)} {rng.choice(_MONTHS)} "
                f"{rng.randint(1990, 2024)} complete")
    if kind == 3:
        return (f"deadline {rng.randint(1990, 2024)}-{rng.randint(1, 12):02d}-"
                f"{rng.randint(1, 28):02d} noted")
    if kind == 4:
        return (f"call ({rng.randint(201, 989)}) {rng.randint(200, 999)}-"
                f"{rng.randint(0, 9999):04d} today")
    if kind == 5:
        return (f"cost ${rng.randint(1, 99)},{rng.randint(0, 999):03d}."
                f"{rng.randint(0, 99):02d} paid")
    if kind == 6:
        return (f"host 10.{rng.randint(0, 255)}.{rng.randint(0, 255)}."
                f"{rng.randint(1, 254)} verified")
    return f"ticket {rng.randint(100, 999999)} open"


def _conversation_sizes(rng: random.Random, n_turns: int,
                        n_long: int, long_share: float,
                        max_turns: int = 40) -> list[int]:
    sizes = [int(n_turns * long_share)] * n_long
    left = n_turns - sum(sizes)
    while left > 0:
        s = min(left, rng.randint(max_turns // 10 or 1, max_turns))
        sizes.append(s)
        left -= s
    rng.shuffle(sizes)
    return sizes


def _turn_keys(sizes: list[int]):
    """(conv_id, turn_idx, role, tool, ts) per turn, conversation-major."""
    seq = 0
    for c, n in enumerate(sizes):
        for t in range(n):
            role = ("user", "assistant", "tool")[t % 3]
            yield (f"c{c:05d}", t, role, "search" if role == "tool" else None,
                   _TS0 + datetime.timedelta(seconds=seq))
            seq += 1


def gen_chat_mix(seed: int, n_turns: int = CHAT_TURNS) -> dict:
    """Mixed chat traffic: document vocabulary + one verbatim payload of
    the 30 ``sources.payloads`` classes at the end of each turn + 1-2
    randomized entity fragments (coordinates, dates, phones, money, IPs,
    numbers) so turns do not repeat.  Returns rows and, per turn,
    ``(payload class, payload offset in main_text, expected main_text or
    None)``."""
    from xponents_spark.gazetteer import data
    from xponents_spark.sources.payloads import (HTML_CLASS, HTML_PREFIX,
                                                 HTML_SUFFIX, NUM_PAYLOADS,
                                                 PAYLOADS)

    rng = _rng("chat_mix", seed)
    places = [(r[7], r[8]) for r in data.GAZETTEER_ROWS]
    sizes = _conversation_sizes(rng, n_turns, CHAT_LONG_CONVS,
                                CHAT_LONG_SHARE)
    rows, meta = [], []
    for key in _turn_keys(sizes):
        k = rng.randrange(NUM_PAYLOADS)
        payload = PAYLOADS[k][1]
        lower = payload is not None and payload == payload.lower()
        words = rng.choices(DOC_VOCAB, k=rng.randint(42, 66))
        for _ in range(rng.randint(1, 2)):
            pos = rng.randint(0, len(words))
            words[pos:pos] = [_random_fragment(rng, places, lower) + "."]
        base = " ".join(words)
        if k == HTML_CLASS:
            text = HTML_PREFIX + base + HTML_SUFFIX
            meta.append((k, None, base))
        else:
            text = base + " " + payload
            meta.append((k, len(base) + 1, None))
        rows.append(key + (text,))
    return {"rows": rows, "meta": meta, "sizes": sizes}


# --- geo_dense ----------------------------------------------------------------

GEO_TURNS = 1_000            # turns per pass
GEO_TAG_LIMIT_TURNS = 1      # planted turns over PhraseIndex.TAG_LIMIT
GEO_TAG_LIMIT_TAGS = 100_500
GEO_COORD_EVERY = 8          # one coordinate in every 8th turn

# filler tokens: lowercase, no digits, and never a gazetteer name (every one
# carries a letter no synthetic or embedded name uses), drawn from millions
# of possible words so a pass holds more distinct tokens than the
# tokenizer's 2^17-entry memo
_FILLER_LETTERS = "abdeghiklmnoprstuvw"
_FILLER_MARKS = "qxzj"


def _filler(rng: random.Random) -> str:
    w = rng.choices(_FILLER_LETTERS, k=rng.randint(3, 5))
    w.insert(rng.randrange(len(w) + 1), rng.choice(_FILLER_MARKS))
    return "".join(w)


_STATES = ("CA", "TX", "NY", "PA", "OR", "OH", "GA", "MS", "NM", "FL")
_POSTAL = ("NSW 2021", "NSW 2019", "NSW 2000", "VIC 3171", "VIC 3166",
           "CA 92101", "PA 15213", "NY 10001")


def gen_geo_dense(seed: int, names: list[str],
                  n_turns: int = GEO_TURNS) -> dict:
    """Long tool-output turns (2-4 KB) dense in gazetteer names, 'City, ST'
    pairs, countries, nationalities and postal codes between runs of
    lowercase identifier-like tokens, plus one coordinate in every
    ``GEO_COORD_EVERY``-th turn; no other digits.
    Names walk a seeded permutation of the gazetteer.
    ``GEO_TAG_LIMIT_TURNS`` planted turns carry more than ``TAG_LIMIT``
    name tags each."""
    from xponents_spark.gazetteer import data

    rng = _rng("geo_dense", seed)
    order = list(range(len(names)))
    rng.shuffle(order)
    countries = sorted(set(data.COUNTRIES.values()))
    nats = sorted(n.capitalize() for n in data.NATIONALITIES)
    # short tool sessions: ~70 conversations, so the conv_id buckets of
    # run_resumable are not decided by a handful of conversations
    sizes = _conversation_sizes(rng, n_turns, 0, 0.0, max_turns=8)
    planted = set(rng.sample(range(n_turns), GEO_TAG_LIMIT_TURNS))
    rows, degraded = [], []
    cursor = 0
    for i, key in enumerate(_turn_keys(sizes)):
        key = (key[0], key[1], "tool", "search", key[4])
        if i in planted:
            pool = [names[order[(cursor + j) % len(order)]]
                    for j in range(1000)]
            text = " ".join(pool[j % 1000]
                            for j in range(GEO_TAG_LIMIT_TAGS))
            degraded.append((key[0], key[1]))
            rows.append(key + (text,))
            continue
        target = rng.randint(2000, 4000)
        parts, size = ["results:"], 8
        while size < target:
            kind = rng.random()
            if kind < 0.82:
                seg = names[order[cursor % len(order)]]
                cursor += 1
                if kind >= 0.70:
                    seg = f"{seg}, {rng.choice(_STATES)}"
            elif kind < 0.90:
                seg = rng.choice(countries)
            elif kind < 0.96:
                seg = rng.choice(nats)
            else:
                seg = rng.choice(_POSTAL)
            fill = " ".join(_filler(rng) for _ in range(rng.randint(30, 50)))
            parts.append(f"{seg} {fill};")
            size += len(seg) + len(fill) + 3
        if i % GEO_COORD_EVERY == 0:
            parts.insert(rng.randrange(1, len(parts) + 1),
                         f"{rng.uniform(0, 70):.4f}N, "
                         f"{rng.uniform(0, 170):.4f}E;")
        rows.append(key + (" ".join(parts),))
    return {"rows": rows, "degraded": degraded, "sizes": sizes}


# --- operator corpus ----------------------------------------------------------

CORPUS_DOCS = 300
CORPUS_VOCAB = 4_000
_SYL = ("ka", "ri", "to", "ma", "be", "do", "sa", "ve", "mo", "gra", "li",
        "po", "ta", "no", "hi", "fo", "bu", "vi", "st", "be", "ca", "te",
        "mar", "por", "vis", "la", "ran", "del", "fen", "os", "wi", "ham")
EDIT_RATES = (0.02, 0.05, 0.10)
HOT_SHINGLE = ("the quarterly ledger was reconciled against the "
               "archived vendor statements before release")


def corpus_vocab() -> list[str]:
    r = random.Random("corpus_ops/vocab")
    words = set()
    while len(words) < CORPUS_VOCAB:
        words.add("".join(r.choice(_SYL) for _ in range(r.randint(1, 4))))
    return sorted(words)


def gen_corpus_ops(seed: int, n_docs: int = CORPUS_DOCS) -> dict:
    """Document corpus for the corpus operators: Zipf words over a fixed
    4k-word vocabulary, paragraphs of lines, with planted exact duplicates,
    near-duplicates at known token edit rates, repeated lines and
    paragraphs, and one hot shingle shared by a tenth of the documents."""
    rng = _rng("corpus_ops", seed)
    vocab = corpus_vocab()
    cum = list(itertools.accumulate(1.0 / (i + 1)
                                    for i in range(len(vocab))))

    def words(n):
        return rng.choices(vocab, cum_weights=cum, k=n)

    def line():
        return " ".join(words(rng.randint(8, 15)))

    def para():
        return "\n".join(line() for _ in range(rng.randint(2, 5)))

    docs: list[str] = []
    exact, near = [], []          # (original doc_id, copy doc_id[, rate])
    for i in range(n_docs):
        u = rng.random()
        if i >= 20 and u < 0.03:
            src = rng.randrange(i)
            docs.append(docs[src])
            exact.append((src, i))
            continue
        if i >= 20 and u < 0.09:
            src = rng.randrange(i)
            rate = EDIT_RATES[rng.randrange(len(EDIT_RATES))]
            toks = docs[src].split(" ")
            for j in range(len(toks)):
                if rng.random() < rate and "\n" not in toks[j]:
                    toks[j] = rng.choice(vocab)
            docs.append(" ".join(toks))
            near.append((src, i, rate))
            continue
        paras = [para() for _ in range(rng.randint(2, 4))]
        if u < 0.14:
            lines = paras[0].split("\n")
            paras[0] = "\n".join(lines + [lines[0]] * rng.randint(2, 4))
        elif u < 0.19:
            paras.append(paras[rng.randrange(len(paras))])
        if rng.random() < 0.10:
            j = rng.randrange(len(paras))
            paras[j] = paras[j] + "\n" + HOT_SHINGLE
        docs.append("\n\n".join(paras))
    return {"rows": list(enumerate(docs)), "exact": exact, "near": near}


def shape(records: list[str]) -> dict:
    n = len(records)
    chars = sorted(len(t) for t in records)
    return {"records": n,
            "chars_per_record_mean": round(sum(chars) / max(n, 1), 1),
            "chars_per_record_p50": chars[n // 2] if n else 0,
            "chars_per_record_max": chars[-1] if n else 0}


def duplicate_share(records: list[str]) -> float:
    return round(1.0 - len(set(records)) / max(len(records), 1), 4)
