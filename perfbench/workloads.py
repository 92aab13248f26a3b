"""The workloads: inputs, one closed-loop pass, and output checks.

A workload object owns:

* ``prepare(seed, cores)`` - generate the seeded input, write it as the
  parquet table(s) the engine reads, and return the facts the checks need;
* ``run_pass(spark, src, out_dir)`` - one pass of the workload's plan, the
  unit the timed loop repeats;
* ``check(inp, table)`` - compare one pass's output table
  (``output_table``) with the expected output; returns the failed record
  keys, the degraded count and an order-independent digest.

The engine is called only through its public entry points:
``sources.read_transcripts``, ``plans.salted_repartition``,
``plans.run_resumable``, ``pipeline.extract``, ``pipeline.extract_turn``
(the driver-side oracle) and the ``operators`` functions.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import zlib
from types import SimpleNamespace

import gen

OUT_COLS = ["conv_id", "turn_idx", "role", "tool", "ts", "main_text",
            "matches"]
# the fixed cold-pass slice that ends each setup_s sample
SLICE_RECORDS = {"chat_mix": 256, "geo_dense": 32}
ORACLE_EVERY = 16            # recompute 1 in 16 turns in the driver
GEO_BUCKETS = 2


def partitions(cores: int) -> int:
    """Input files and exchange width: one task per core per stage.  Each
    pyspark task carries a fixed cost, so at this input size wider stages
    are slower and noisier (measured on 4 cores, 3,000 chat turns: 2.15 s
    per pass at 4 partitions, 2.59 s at 8, 6.7 s at 16)."""
    return cores


def _canon(obj) -> str:
    return json.dumps(obj, sort_keys=True, separators=(",", ":"),
                      ensure_ascii=False, default=str)


def digest(lines) -> str:
    """Order-independent digest of canonical row strings."""
    h = hashlib.sha256()
    for s in sorted(hashlib.sha256(x.encode()).hexdigest() for x in lines):
        h.update(s.encode())
    return h.hexdigest()[:32]


def _sampled(conv_id: str, turn_idx: int) -> bool:
    return zlib.crc32(f"{conv_id}/{turn_idx}".encode()) % ORACLE_EVERY == 0


# --- parquet io ---------------------------------------------------------------

def _write_split(table, path: str, files: int) -> None:
    import pyarrow.parquet as pq
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = i * n // files, (i + 1) * n // files
        if hi > lo:
            pq.write_table(table.slice(lo, hi - lo),
                           os.path.join(path, f"part-{i:03d}.parquet"))


def write_transcripts(rows, path: str, files: int) -> None:
    import pyarrow as pa
    cols = list(zip(*rows))
    table = pa.table({
        "conv_id": pa.array(cols[0], pa.string()),
        "turn_idx": pa.array(cols[1], pa.int32()),
        "role": pa.array(cols[2], pa.string()),
        "tool": pa.array(cols[3], pa.string()),
        "ts": pa.array(cols[4], pa.timestamp("us", tz="UTC")),
        "text": pa.array(cols[5], pa.string()),
    })
    _write_split(table, path, files)


def write_docs(rows, path: str, files: int) -> None:
    import pyarrow as pa
    table = pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                      "text": pa.array([r[1] for r in rows], pa.string())})
    _write_split(table, path, files)


def read_table(paths: list[str], columns: list[str]):
    """Every parquet file under ``paths`` as one table sorted by turn key,
    so two outputs compare with ``Table.equals`` whatever their layout."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    parts = [pq.read_table(os.path.join(root, f), columns=columns)
             for path in paths for root, _dirs, files in os.walk(path)
             for f in sorted(files) if f.endswith(".parquet")]
    return pa.concat_tables(parts).sort_by(
        [("conv_id", "ascending"), ("turn_idx", "ascending")])


# --- extraction workloads -----------------------------------------------------

class _Extraction:
    """Shared check logic of the two per-turn extraction workloads."""

    gazetteer: str | None = None
    files_per_core = 1           # input parquet files per core

    def _row_lines(self, rows):
        return [_canon([r["conv_id"], r["turn_idx"], r["main_text"],
                        r["matches"]]) for r in rows]

    def oracle(self, text: str):
        from xponents_spark.gazetteer.matcher import set_gazetteer_parquet
        from xponents_spark.pipeline import DEFAULT_FEATURES, extract_turn
        set_gazetteer_parquet(self.gazetteer)
        return extract_turn(text, DEFAULT_FEATURES)

    def output_dirs(self, out_dir: str) -> list[str]:
        return [out_dir]

    def output_table(self, out_dir: str):
        return read_table(self.output_dirs(out_dir),
                          ["conv_id", "turn_idx", "main_text", "matches"])

    def check(self, inp, table) -> dict:
        """Failed turn keys, degraded turns and the digest of one pass's
        output table: row set, tag-limit sentinels, the per-turn semantic
        checks (pins, the driver-side oracle on a sample) and the digest."""
        rows = table.to_pylist()
        seen, failed, degraded = set(), set(), 0
        for r in rows:
            key = (r["conv_id"], r["turn_idx"])
            if key in seen or key not in inp.texts:
                failed.add(key)          # duplicated or foreign row
            seen.add(key)
            sentinel = any(m["label"] == "tag_limit_exceeded"
                           for m in r["matches"])
            degraded += sentinel
            if sentinel != (key in inp.degraded):
                failed.add(key)
        failed |= inp.texts.keys() - seen   # missing rows
        for r in rows:
            key = (r["conv_id"], r["turn_idx"])
            if key in inp.texts and key not in failed and \
                    not self.row_ok(inp, key, r):
                failed.add(key)
        return {"failed": failed, "degraded": degraded,
                "digest": digest(self._row_lines(rows))}

    def row_ok(self, inp, key, r) -> bool:
        if _sampled(*key) and key not in inp.degraded:
            main, rows = self.oracle(inp.texts[key])
            return _canon([main, rows]) == _canon([r["main_text"],
                                                   r["matches"]])
        return True

    def expected_digest(self, inp) -> str:
        """Digest of the whole expected output, computed in this process
        with ``pipeline.extract_turn`` (the pin generator)."""
        lines = []
        for (conv_id, turn_idx), text in inp.texts.items():
            main, rows = self.oracle(text)
            lines.append(_canon([conv_id, turn_idx, main, rows]))
        return digest(lines)

    def slice_rows(self, rows, degraded):
        keep = [r for r in rows if (r[0], r[1]) not in degraded]
        return keep[:SLICE_RECORDS[self.name]]

    def _prepare_tables(self, seed, work, cores, rows, degraded, extra):
        src = os.path.join(work, "input")
        write_transcripts(rows, src, self.files_per_core * cores)
        slice_path = os.path.join(work, "slice")
        write_transcripts(self.slice_rows(rows, degraded), slice_path, cores)
        # every cores-th turn for the local[1] side of the weak-scaling
        # ratio; the planted tag-limit turns stay out so that its cost does
        # not depend on where the seed put them
        reduced = os.path.join(work, "reduced")
        few = [r for r in rows if (r[0], r[1]) not in degraded][::cores]
        write_transcripts(few, reduced, partitions(1))
        texts = {(r[0], r[1]): r[5] for r in rows}
        return SimpleNamespace(
            seed=seed, src=src, slice=slice_path, reduced=reduced,
            records=len(rows), reduced_records=len(few),
            texts=texts, degraded=set(degraded),
            shape=gen.shape(list(texts.values())), **extra)


class ChatMix(_Extraction):
    name = "chat_mix"

    def prepare(self, seed: int, work: str, cores: int) -> SimpleNamespace:
        g = gen.gen_chat_mix(seed)
        keys = [(r[0], r[1]) for r in g["rows"]]
        inp = self._prepare_tables(seed, work, cores, g["rows"], (),
                                   {"meta": dict(zip(keys, g["meta"]))})
        inp.shape["longest_conversation"] = max(g["sizes"])
        inp.shape["duplicate_share"] = gen.duplicate_share(
            list(inp.texts.values()))
        return inp

    def run_pass(self, spark, src: str, out_dir: str) -> dict:
        from xponents_spark.pipeline import extract
        from xponents_spark.plans import salted_repartition
        from xponents_spark.sources import read_transcripts
        cores = spark.sparkContext.defaultParallelism
        df = salted_repartition(read_transcripts(spark, src),
                                partitions(cores))
        (extract(df).select(*OUT_COLS)
            .sortWithinPartitions("conv_id", "turn_idx")
            .write.mode("overwrite").parquet(out_dir))
        return {}

    def row_ok(self, inp, key, r) -> bool:
        from xponents_spark.sources.payloads import EXPECTED
        k, off, html_main = inp.meta[key]
        if html_main is not None:
            if r["main_text"] != html_main:
                return False
        else:
            # the pinned payload fixture, shifted to its splice offset
            for e in EXPECTED[k]:
                want = {f: v for f, v in e.items()
                        if f not in ("rel_start", "rel_end", "slots")}
                if not any(m["span_start"] == off + e["rel_start"]
                           and m["span_end"] == off + e["rel_end"]
                           and all(m.get(f) == v for f, v in want.items())
                           for m in r["matches"]):
                    return False
        return super().row_ok(inp, key, r)


class GeoDense(_Extraction):
    name = "geo_dense"
    # run_resumable's bucket jobs read the bucketized copy, split by the
    # input's files: one file per core left half the cores idle there
    files_per_core = 2

    def __init__(self, cache: str):
        self.gazetteer = os.path.join(cache, "gazetteer", "tagger.parquet")

    def ensure_gazetteer(self) -> None:
        """Build the ~300k-name tagger parquet once per checkout, in its
        own process (its JVM must not warm the measured sessions)."""
        if os.path.exists(os.path.join(self.gazetteer, "_normalization.json")):
            return
        here = os.path.dirname(os.path.abspath(__file__))
        subprocess.run([sys.executable, os.path.join(here, "refdata.py"),
                        "build", self.gazetteer], check=True, timeout=600,
                       stdout=sys.stderr)

    def names(self) -> list[str]:
        """The gazetteer's sorted distinct names, listed once per checkout
        next to it (reading the parquet costs ~1.2 s a run)."""
        path = os.path.join(os.path.dirname(self.gazetteer), "names.txt")
        if not os.path.exists(path):
            import pyarrow.parquet as pq
            t = pq.read_table(self.gazetteer, columns=["name", "name_type"])
            names = sorted({n for n, nt in zip(
                t.column("name").to_pylist(),
                t.column("name_type").to_pylist()) if nt == "N"})
            with open(path + ".tmp", "w", encoding="utf-8") as fh:
                fh.write("\n".join(names))
            os.replace(path + ".tmp", path)
        with open(path, encoding="utf-8") as fh:
            return fh.read().split("\n")

    def prepare(self, seed: int, work: str, cores: int) -> SimpleNamespace:
        self.ensure_gazetteer()
        g = gen.gen_geo_dense(seed, self.names())
        inp = self._prepare_tables(seed, work, cores, g["rows"],
                                   g["degraded"], {})
        inp.shape["planted_tag_limit_turns"] = len(g["degraded"])
        inp.shape["distinct_tokens"] = len({
            tok for t in inp.texts.values() if len(t) < 100_000
            for tok in t.split()})
        return inp

    def run_pass(self, spark, src: str, out_dir: str) -> dict:
        from xponents_spark.plans import run_resumable
        from xponents_spark.sources import read_transcripts
        manifests = run_resumable(
            read_transcripts(spark, src), out_dir, buckets=GEO_BUCKETS,
            input_desc="geo_dense", verify_input=False,
            extract_kwargs={"gazetteer_parquet": self.gazetteer})
        return {"manifests": manifests}

    def output_dirs(self, out_dir: str) -> list[str]:
        # bucket=<b>/ directories only: _input/ holds the bucketized copy
        return [os.path.join(out_dir, name)
                for name in sorted(os.listdir(out_dir))
                if name.startswith("bucket=")]


# --- corpus operators ---------------------------------------------------------

def corpus_ops():
    """(name, function) of the five corpus operators, in pass order."""
    from xponents_spark.operators.dedup import (duplicated_spans,
                                                minhash_near_dups,
                                                winnow_near_dups)
    from xponents_spark.operators.textstats import (gopher_quality_filter_full,
                                                    repetition_stats)
    return (
        ("operators.textstats.gopher_quality_filter_full",
         gopher_quality_filter_full),
        ("operators.textstats.repetition_stats", repetition_stats),
        ("operators.dedup.minhash_near_dups", minhash_near_dups),
        ("operators.dedup.winnow_near_dups",
         lambda df: winnow_near_dups(df, threshold=0.6)),
        ("operators.dedup.duplicated_spans",
         lambda df: duplicated_spans(df, k=8)),
    )


class OperatorCorpus:
    """The seeded document corpus the traced run feeds to the five corpus
    operators (gen.gen_corpus_ops): planted exact and near duplicates,
    repeated lines and paragraphs, one hot shingle."""

    def __init__(self, seed: int, work: str, cores: int):
        g = gen.gen_corpus_ops(seed)
        self.seed = seed
        self.src = os.path.join(work, "corpus")
        write_docs(g["rows"], self.src, partitions(cores))
        self.docs = dict(g["rows"])
        self.exact, self.near = g["exact"], g["near"]
        texts = list(self.docs.values())
        self.shape = gen.shape(texts)
        self.shape.update(
            duplicate_share=gen.duplicate_share(texts),
            planted_exact_pairs=len(self.exact),
            planted_near_pairs={str(rate): sum(1 for *_p, r in self.near
                                               if r == rate)
                                for rate in gen.EDIT_RATES},
            hot_shingle_docs=sum(gen.HOT_SHINGLE in t for t in texts))

    def outputs(self, spark) -> dict:
        df = spark.read.parquet(self.src)
        return {name: [r.asDict() for r in op(df).collect()]
                for name, op in corpus_ops()}

    def check(self, outs: dict) -> tuple[set, dict]:
        """Failed doc ids and per-operator digests."""
        docs = self.docs
        failed: set = set()
        for name in ("operators.textstats.gopher_quality_filter_full",
                     "operators.textstats.repetition_stats"):
            seen = set()
            for r in outs[name]:
                if r["doc_id"] in seen or r["doc_id"] not in docs:
                    failed.add(r["doc_id"])
                seen.add(r["doc_id"])
            failed |= docs.keys() - seen
        # exact duplicates are found by construction: identical signatures,
        # identical fingerprint sets, every k-gram occurring twice
        for name in ("operators.dedup.minhash_near_dups",
                     "operators.dedup.winnow_near_dups"):
            pairs = {(r["doc_a"], r["doc_b"]) for r in outs[name]}
            for a, b in self.exact:
                if (min(a, b), max(a, b)) not in pairs:
                    failed |= {a, b}
        spans: dict = {}
        for r in outs["operators.dedup.duplicated_spans"]:
            spans.setdefault(r["doc_id"], set()).add(
                (r["span_start"], r["span_end"]))
        for a, b in self.exact:
            ntok = len(docs[b].strip(" ").split())
            for d in (a, b):
                if ntok >= 8 and (0, ntok) not in spans.get(d, ()):
                    failed.add(d)
        digests = {name: digest(_canon(r) for r in rows)
                   for name, rows in outs.items()}
        return failed, digests

    def recall(self, outs: dict) -> float:
        """Share of planted exact and near-duplicate pairs minhash finds."""
        pairs = {(r["doc_a"], r["doc_b"])
                 for r in outs["operators.dedup.minhash_near_dups"]}
        planted = [(a, b) for a, b in self.exact] + \
                  [(a, b) for a, b, _r in self.near]
        return sum((min(a, b), max(a, b)) in pairs
                   for a, b in planted) / max(len(planted), 1)


def make(name: str, cache: str):
    return GeoDense(cache) if name == "geo_dense" else ChatMix()
