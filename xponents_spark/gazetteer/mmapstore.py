"""Mmap-backed reference tables — the one executor-side backend for the
gazetteer, taxcat and postal tables.

Each table compiles into a flat, binary, mmap-able artifact; every
executor python worker maps the same files, so the OS page cache holds ONE
copy per node no matter how many workers tag against it — the Spark-native
equivalent of the reference sharing one ~3 GB Solr FST per node across all
mappers (Examples/MapReduce/README.md, solr/README.md:164-166).
Per-worker private heap is O(1): a few hundred bytes of open-file state
plus bounded hydration memos.

Callers pass either a parquet (``build_tagger_parquet`` /
``build_taxcat_parquet`` output, or a postal parquet) or an artifact
directory.  ``resolve`` maps a parquet to its artifact at
``<parquet>/_mmap/``, building it there when missing or stale; Spark and
pyarrow skip ``_``-prefixed entries when they read the parquet, and an
overwrite of the parquet deletes the artifact with it.

Artifact layout (directory)::

    meta.json         format + normalization_version + counts (an open
                      refuses a mismatch; ``resolve`` rebuilds it)
    phrases.bin       UTF-8 phrase keys, bytewise-sorted, concatenated
    phrase_off.npy    uint64[P+1] offsets into phrases.bin
    row_bounds.npy    uint64[P+1] phrase k -> payload rows [b[k], b[k+1])
    prefix2.npy       uint64[65537] first-two-byte bucket table: bucket c
                      covers phrase indices [T[c], T[c+1]) — shrinks every
                      top-level binary search from log2(P) to ~log2(P/65536)
    first_crc.npy     uint32[F] sorted distinct crc32 of each phrase's first
                      token: a whole text's tokens are filtered against it
                      in one vectorized search, so dictionary misses (most
                      tokens) never reach the per-token binary search
    rows.bin          payload string fields per row, 0x1F-separated
    row_off.npy       uint64[R+1] offsets into rows.bin
    lat.npy/lon.npy   float64[R] (NaN = no coordinate)
    id_bias.npy       int32[R]
    pop.npy           int64[R]
    grid_cells.npy    int64[C] sorted distinct 0.5-degree cell codes over
    grid_bounds.npy   uint64[C+1]   the located P/A reverse-geocode subset
    grid_rows.npy     uint64[...]   (row indices grouped by cell: one row
                                    per place_id, the first in source
                                    order, source order within a cell)

Lookup is incremental longest-match over the sorted phrase array: for each
token that passes the first-token filter, binary-search the exact token and the ``token + ' '`` prefix range,
then extend one token at a time while the prefix range stays non-empty —
every exact hit along the way is recorded, reproducing exactly the
all-lengths probe of ``PhraseIndex.scan`` (LONGEST_DOMINANT_RIGHT resolves
overlaps afterwards, identical policy).
UTF-8 byte order equals code-point order, so ``np.argsort`` at build time
and byte compares at query time agree.

Scale notes (100 TB design):
* the artifact ships like the reference's Solr index: build once in ETL,
  distribute to each node (spark-submit --files / a node-local fetch), mmap
  everywhere.  Queries touch O(log P) pages per token; the hot upper levels
  of the implicit search tree stay resident in page cache.
* build currently materializes the sorted columns in one process (~100 B/row
  transient); for gazetteers beyond ~100M rows, build per first-byte shard
  and concatenate — the file format is concatenation-friendly.

Reference parity anchors: FST tagger semantics GazetteerMatcher.java:151-163,
tag limit SolrMatcherSupport.java:46,186-195, reverse geocode
PlaceGeocoder.java:874-978 / SolrGazetteer.java:131-159.
"""

from __future__ import annotations

import json
import math
import mmap
import os
import shutil
import tempfile
import zlib

import numpy as np

from .matcher import (Place, TagLimitExceeded, _longest_dominant_right,
                      tokens_with_offsets)

_STR_COLS = ["place_id", "name", "name_type", "feat_class", "feat_code",
             "cc", "adm1"]
_SEP = "\x1f"
_NULL = "\x00"     # NULL sentinel in rows.bin (distinct from '')
# 2: reverse-geocode grid in source order, first-token filter
_FORMAT = "xponents-mmap-2"
_CELL_DEG = 0.5
_CELL_MUL = 1_000_003


def _offsets(path: str, name: str) -> memoryview:
    """A mapped uint64 offset table as a memoryview: lookups read it one
    item at a time, and a memoryview item is a Python int read in C, where
    np.memmap's per-item ``__getitem__`` cost ~0.5 us and dominated the
    phrase scan."""
    return memoryview(np.load(os.path.join(path, name), mmap_mode="r")) \
        .cast("B").cast("Q")


def _sidecar_version(parquet: str, etl: str) -> int:
    """The normalization version a phrase parquet was written with.  A
    missing sidecar (part files copied without it) or another version is
    refused: phrases normalized differently would silently stop matching."""
    from .matcher import NORMALIZATION_VERSION
    meta_path = os.path.join(parquet, "_normalization.json")
    if not os.path.exists(meta_path):
        raise ValueError(f"{parquet} has no _normalization.json sidecar — "
                         f"build with {etl}")
    with open(meta_path) as fh:
        ver = json.load(fh).get("normalization_version")
    if ver != NORMALIZATION_VERSION:
        raise ValueError(
            f"{parquet} was normalized with version {ver}, engine expects "
            f"{NORMALIZATION_VERSION} — rebuild with {etl}")
    return ver


def _write_phrases(out_dir: str, keys: list[bytes]) -> None:
    """The phrase table of the gazetteer and taxcat artifacts: distinct
    UTF-8 phrase keys in byte order, their offsets, the 2-byte bucket
    table and the first-token filter."""
    with open(os.path.join(out_dir, "phrases.bin"), "wb") as fh:
        fh.write(b"".join(keys))
    poff = np.zeros(len(keys) + 1, dtype=np.uint64)
    np.cumsum([len(k) for k in keys], out=poff[1:])
    np.save(os.path.join(out_dir, "phrase_off.npy"), poff)
    code = np.asarray([int.from_bytes(k[:2].ljust(2, b"\0"), "big")
                       for k in keys], dtype=np.int64)
    np.save(os.path.join(out_dir, "prefix2.npy"),
            np.searchsorted(code, np.arange(65537)).astype(np.uint64))
    np.save(os.path.join(out_dir, "first_crc.npy"),
            np.unique(np.asarray([zlib.crc32(k.split(b" ", 1)[0])
                                  for k in keys], dtype=np.uint32)))


def build_mmap_artifact(tagger_parquet: str, out_dir: str) -> dict:
    """Compile a tagger parquet (``build_tagger_parquet`` output) into the
    mmap artifact — pure pyarrow/numpy, the analog of the reference's Solr
    index build (solr/build.sh).  Returns counts."""
    import pyarrow.parquet as pq

    norm_ver = _sidecar_version(tagger_parquet, "build_tagger_parquet")
    tbl = pq.read_table(tagger_parquet,
                        columns=_STR_COLS + ["lat", "lon", "id_bias", "pop",
                                             "phrase"])
    phrases = np.asarray(tbl.column("phrase").to_pylist(), dtype=object)
    order = np.argsort(phrases, kind="stable")   # codepoint == UTF-8 order
    tbl = tbl.take(order).combine_chunks()
    phrases = phrases[order]
    n_rows = len(phrases)

    os.makedirs(out_dir, exist_ok=True)

    # phrase table: distinct keys + row bounds
    keys: list[bytes] = []
    bounds = [0]
    prev = None
    for i, p in enumerate(phrases):
        if p != prev:
            if prev is not None:
                bounds.append(i)
            keys.append(p.encode("utf-8"))
            prev = p
    bounds.append(n_rows)
    n_phrases = len(keys)
    _write_phrases(out_dir, keys)
    np.save(os.path.join(out_dir, "row_bounds.npy"),
            np.asarray(bounds, dtype=np.uint64))

    # payload rows (0x1F-joined strings; numerics as typed arrays)
    cols = {c: tbl.column(c).to_pylist() for c in _STR_COLS}
    roff = [0]
    with open(os.path.join(out_dir, "rows.bin"), "wb") as fh:
        for i in range(n_rows):
            # NULL and '' must stay distinct (the parquet path preserves
            # both — review finding): NULs encode SQL NULL, they cannot
            # appear in real field text
            rec = _SEP.join(
                _NULL if (v := cols[c][i]) is None else v.replace(_SEP, " ")
                for c in _STR_COLS).encode("utf-8")
            fh.write(rec)
            roff.append(roff[-1] + len(rec))
    np.save(os.path.join(out_dir, "row_off.npy"),
            np.asarray(roff, dtype=np.uint64))

    def _f8(name):
        v = tbl.column(name).to_numpy(zero_copy_only=False).astype(np.float64)
        np.save(os.path.join(out_dir, f"{name}.npy"), v)
        return v

    lat = _f8("lat")
    lon = _f8("lon")
    ib = tbl.column("id_bias").to_numpy(zero_copy_only=False)
    np.save(os.path.join(out_dir, "id_bias.npy"),
            np.nan_to_num(ib.astype(np.float64)).astype(np.int32))
    pop = tbl.column("pop").to_numpy(zero_copy_only=False)
    np.save(os.path.join(out_dir, "pop.npy"),
            np.nan_to_num(pop.astype(np.float64)).astype(np.int64))

    # reverse-geocode grid over located P/A rows (parity with
    # spatial.SpatialIndex build filters: valid lat+lon, P/A class,
    # non-empty cc, no country centroids).  Like SpatialIndex it keeps one
    # row per place_id, the first in SOURCE order, and source order within
    # a cell: the rows above are phrase-sorted, and a place's code row
    # ('SAN') must not stand in for its name row ('Sannov')
    fclass = np.asarray(cols["feat_class"], dtype=object)
    fcode = np.asarray(cols["feat_code"], dtype=object)
    cc = np.asarray(cols["cc"], dtype=object)
    keep = (np.isfinite(lat) & np.isfinite(lon)
            & ((fclass == "P") | (fclass == "A"))
            & (cc != "") & (cc != None)  # noqa: E711 — element-wise
            & ~np.array([str(f).startswith("PCL") for f in fcode]))
    rows_idx = np.flatnonzero(keep)
    pids = cols["place_id"]
    first: list[int] = []
    seen: set = set()
    for i in rows_idx[np.argsort(order[rows_idx], kind="stable")]:
        if pids[i] not in seen:
            seen.add(pids[i])
            first.append(i)
    rows_idx = np.asarray(first, dtype=np.int64)
    ci = np.floor(lat[rows_idx] / _CELL_DEG).astype(np.int64)
    cj = np.floor(lon[rows_idx] / _CELL_DEG).astype(np.int64)
    cell = ci * _CELL_MUL + cj
    o = np.argsort(cell, kind="stable")
    cell, rows_idx = cell[o], rows_idx[o]
    uniq, ustart = np.unique(cell, return_index=True)
    np.save(os.path.join(out_dir, "grid_cells.npy"), uniq.astype(np.int64))
    np.save(os.path.join(out_dir, "grid_bounds.npy"),
            np.concatenate([ustart, [len(cell)]]).astype(np.uint64))
    np.save(os.path.join(out_dir, "grid_rows.npy"),
            rows_idx.astype(np.uint64))

    meta = {"format": _FORMAT, "normalization_version": norm_ver,
            "n_phrases": int(n_phrases), "n_rows": int(n_rows),
            "n_grid_rows": int(len(rows_idx))}
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


class _MmapFiles:
    """Shared open-file state for the phrase and payload tables."""

    def __init__(self, path: str):
        from .matcher import NORMALIZATION_VERSION
        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        if meta.get("format") != _FORMAT:
            raise ValueError(f"{path}: unknown mmap artifact format")
        if meta.get("normalization_version") != NORMALIZATION_VERSION:
            raise ValueError(
                f"mmap artifact {path} normalized with version "
                f"{meta.get('normalization_version')}, engine expects "
                f"{NORMALIZATION_VERSION} — rebuild with build_mmap_artifact")
        self.meta = meta

        def load(name):
            return np.load(os.path.join(path, name), mmap_mode="r")

        self._pf = open(os.path.join(path, "phrases.bin"), "rb")
        self.pbuf = mmap.mmap(self._pf.fileno(), 0, access=mmap.ACCESS_READ)
        self.poff = _offsets(path, "phrase_off.npy")
        self.row_bounds = _offsets(path, "row_bounds.npy")
        self.prefix2 = _offsets(path, "prefix2.npy")
        self.first_crc = load("first_crc.npy")
        self._rf = open(os.path.join(path, "rows.bin"), "rb")
        self.rbuf = mmap.mmap(self._rf.fileno(), 0, access=mmap.ACCESS_READ)
        self.roff = _offsets(path, "row_off.npy")
        self.lat = load("lat.npy")
        self.lon = load("lon.npy")
        self.id_bias = load("id_bias.npy")
        self.pop = load("pop.npy")
        self.grid_cells = load("grid_cells.npy")
        self.grid_bounds = _offsets(path, "grid_bounds.npy")
        self.grid_rows = load("grid_rows.npy")

    def place(self, row: int) -> Place:
        rec = [None if f == _NULL else f
               for f in self.rbuf[self.roff[row]:self.roff[row + 1]]
               .decode("utf-8").split(_SEP)]
        lat = float(self.lat[row])
        lon = float(self.lon[row])
        return Place(*rec,
                     lat=None if math.isnan(lat) else lat,
                     lon=None if math.isnan(lon) else lon,
                     id_bias=int(self.id_bias[row]),
                     pop=int(self.pop[row]))


# one _MmapFiles per (process, path): MmapGazetteerIndex and
# MmapSpatialIndex in the same worker share mappings.  Keyed by meta.json's
# identity too: a parquet rewritten in place gets a new artifact at the
# same path, which must not be served from the old mapping.
_FILES: dict[str, tuple[tuple[int, int], _MmapFiles]] = {}


def _files(path: str) -> _MmapFiles:
    st = os.stat(os.path.join(path, "meta.json"))
    stamp = (st.st_ino, st.st_mtime_ns)
    hit = _FILES.get(path)
    if hit is None or hit[0] != stamp:
        hit = _FILES[path] = (stamp, _MmapFiles(path))
    return hit[1]


class MmapGazetteerIndex:
    """Phrase tagger over the mmap artifact; same scan contract as
    ``PhraseIndex``: returns LDR-resolved ``(start, end, matchtext,
    places)`` tuples."""

    TAG_LIMIT = 100_000

    def __init__(self, path: str):
        self.f = _files(path)
        self._memo: dict[int, list[Place]] = {}
        # first-token probe memo for tokens that pass the first-token
        # filter: text vocabularies are Zipf-distributed, so caching
        # (exact-hit phrase idx, extension range) per token turns a
        # repeated top-level binary search into one dict hit.  Bounded:
        # ~200k entries ≈ 20-30 MB private/worker, still ~100x under the
        # heap-path footprint at 10M names.
        self._tok_memo: dict[bytes, tuple[int, int, int]] = {}

    # binary search over the sorted phrase byte table
    def _bisect(self, key: bytes, lo: int, hi: int) -> int:
        pbuf, poff = self.f.pbuf, self.f.poff
        while lo < hi:
            mid = (lo + hi) >> 1
            if pbuf[poff[mid]:poff[mid + 1]] < key:
                lo = mid + 1
            else:
                hi = mid
        return lo

    def _phrase(self, k: int) -> bytes:
        return self.f.pbuf[self.f.poff[k]:self.f.poff[k + 1]]

    def _places(self, k: int) -> list[Place]:
        hit = self._memo.get(k)
        if hit is None:
            from .matcher import CANDIDATE_CAP
            b0, b1 = self.f.row_bounds[k], self.f.row_bounds[k + 1]
            if b1 - b0 > CANDIDATE_CAP:
                # O6 candidate cap — selected from the mmap'd id_bias
                # array alone, so a pathological 10^5-row phrase never
                # hydrates beyond the cap (stable argsort: bias ties keep
                # artifact order, matching _cap_places on the other paths)
                bias = np.asarray(self.f.id_bias[b0:b1])
                keep = np.sort(np.argsort(-bias, kind="stable")
                               [:CANDIDATE_CAP])
                rows = [b0 + int(i) for i in keep]
                hit = sorted((self.f.place(r) for r in rows),
                             key=lambda p: -p.id_bias)
            else:
                hit = [self.f.place(r) for r in range(b0, b1)]
            if len(self._memo) > 200_000:    # bound worker memory growth
                self._memo.clear()
            self._memo[k] = hit
        return hit

    def scan(self, text: str,
             toks: list[tuple[str, int, int]] | None = None
             ) -> list[tuple[int, int, str, list]]:
        if toks is None:
            toks = tokens_with_offsets(text)
        fc = self.f.first_crc
        if not toks or not len(fc):
            return []
        # first-token filter over the whole text at once: only a token whose
        # crc32 is some phrase's first-token crc32 can start a hit (a crc
        # collision merely costs the searches below)
        keys = [t[0].encode("utf-8") for t in toks]
        crc = np.fromiter(map(zlib.crc32, keys), np.uint32, len(keys))
        pos = np.minimum(np.searchsorted(fc, crc), len(fc) - 1)
        T = self.f.prefix2
        n = len(toks)
        raw: list[tuple[int, int, int]] = []
        memo = self._tok_memo
        for i in np.flatnonzero(fc[pos] == crc).tolist():
            key = keys[i]
            ent = memo.get(key)
            if ent is None:
                if not key:
                    continue
                b0 = key[0]
                if len(key) >= 2:
                    c = (b0 << 8) | key[1]
                    lo, hi = T[c], T[c + 1]
                else:   # 1-byte token: cover the whole first-byte band
                    lo, hi = T[b0 << 8], T[(b0 + 1) << 8]
                if lo >= hi:
                    exact, lo2, hi2 = -1, 0, 0
                else:
                    k = self._bisect(key, lo, hi)
                    exact = k if k < hi and self._phrase(k) == key else -1
                    pref = key + b" "
                    lo2 = self._bisect(pref, k, hi)
                    hi2 = self._bisect(pref + b"\xff", lo2, hi)
                if len(memo) > 200_000:
                    memo.clear()
                memo[key] = ent = (exact, lo2, hi2)
            exact, lo2, hi2 = ent
            if exact < 0 and lo2 >= hi2:
                continue
            if exact >= 0:
                raw.append((toks[i][1], toks[i][2], exact))
                if len(raw) > self.TAG_LIMIT:
                    raise TagLimitExceeded(
                        f"tag limit {self.TAG_LIMIT} exceeded in one "
                        f"document")
            pref = key + b" "
            j = i + 1
            while lo2 < hi2 and j < n:
                cur = pref + keys[j]
                k2 = self._bisect(cur, lo2, hi2)
                if k2 < hi2 and self._phrase(k2) == cur:
                    raw.append((toks[i][1], toks[j][2], k2))
                    if len(raw) > self.TAG_LIMIT:
                        raise TagLimitExceeded(
                            f"tag limit {self.TAG_LIMIT} exceeded in one "
                            f"document")
                pref = cur + b" "
                lo2 = self._bisect(pref, k2, hi2)
                hi2 = self._bisect(pref + b"\xff", lo2, hi2)
                j += 1
        resolved = _longest_dominant_right(raw)
        # hydrate AFTER overlap resolution: losers cost nothing
        return [(s, e, text[s:e], self._places(k)) for s, e, k in resolved]


class MmapSpatialIndex:
    """Reverse-geocode grid over the mmap artifact; same ``places_at``
    contract as ``spatial.SpatialIndex``, except that places at exactly
    equal distance keep grid order instead of place_id order.  All lookups
    are ``np.searchsorted`` over mmap'd arrays — zero per-worker build
    cost."""

    def __init__(self, path: str):
        self.f = _files(path)

    def _cand(self, lat: float, lon: float, reach: int) -> np.ndarray:
        f = self.f
        ci, cj = int(math.floor(lat / _CELL_DEG)), \
            int(math.floor(lon / _CELL_DEG))
        want = np.asarray([(ci + di) * _CELL_MUL + (cj + dj)
                           for di in range(-reach, reach + 1)
                           for dj in range(-reach, reach + 1)],
                          dtype=np.int64)
        pos = np.searchsorted(f.grid_cells, want)
        ok = pos < len(f.grid_cells)
        # exact matches only: a missing cell's insertion point can land on
        # another wanted cell, which would then be read twice
        pos, want = pos[ok], want[ok]
        hit = pos[f.grid_cells[pos] == want]
        if not len(hit):
            return np.empty(0, np.int64)
        parts = [f.grid_rows[f.grid_bounds[p]:f.grid_bounds[p + 1]]
                 for p in hit]
        return np.concatenate(parts).astype(np.int64)

    def places_at(self, lat: float, lon: float, radius_km: float = 50,
                  limit: int = 5) -> list[tuple[float, Place]]:
        f = self.f
        idx = self._cand(lat, lon, max(1, int(math.ceil(radius_km / 55.0))))
        if not len(idx):
            return []
        la, lo = np.radians(f.lat[idx]), np.radians(f.lon[idx])
        qa, qo = math.radians(lat), math.radians(lon)
        a = (np.sin((la - qa) / 2) ** 2
             + math.cos(qa) * np.cos(la) * np.sin((lo - qo) / 2) ** 2)
        d = 2 * 6_371_000.0 * np.arcsin(np.sqrt(a))
        ok = d <= radius_km * 1000
        idx, d = idx[ok], d[ok]
        # the grid holds one row per place_id, so no dedup here
        return [(float(d[k]), f.place(int(idx[k])))
                for k in np.argsort(d, kind="stable")[:limit]]


# --- taxcat mmap artifact (T4 shared-memory path) ----------------------------

_TAX_FORMAT = "xponents-taxmmap-2"   # 2: first-token filter


def build_taxcat_mmap(taxcat_parquet: str, out_dir: str) -> dict:
    """Compile a taxcat parquet (``build_taxcat_parquet`` output) into a
    phrase-scan mmap artifact: same sorted-phrase-table + 2-byte-prefix
    bucket layout as the gazetteer artifact, payload rows are
    (kind, canonical, cc).  The JRC/person/WFB-scale lexicon then costs
    page-cache pages shared across every worker on a node instead of a
    ~100 MB phrase dict per worker (the taxcat analog of the reference's
    one-Solr-FST-per-node model, solr/README.md:164-166)."""
    import pyarrow.parquet as pq

    norm_ver = _sidecar_version(taxcat_parquet, "build_taxcat_parquet")
    tbl = pq.read_table(taxcat_parquet,
                        columns=["phrase", "kind", "canonical", "cc", "valid"])
    cols = {c: tbl.column(c).to_pylist()
            for c in ("phrase", "kind", "canonical", "cc", "valid")}
    # cc '' -> None: the embedded lexicons' payload for "no country"
    rows = [(p, k, cn, cc or None) for p, k, cn, cc, v in
            zip(cols["phrase"], cols["kind"], cols["canonical"],
                cols["cc"], cols["valid"]) if v and p]
    rows.sort(key=lambda r: r[0])            # codepoint == UTF-8 byte order

    os.makedirs(out_dir, exist_ok=True)
    keys: list[bytes] = []
    bounds = [0]
    prev = None
    roff = [0]
    with open(os.path.join(out_dir, "rows.bin"), "wb") as fh:
        for i, (p, k, cn, cc) in enumerate(rows):
            if p != prev:
                if prev is not None:
                    bounds.append(i)
                keys.append(p.encode("utf-8"))
                prev = p
            rec = _SEP.join(_NULL if v is None else v.replace(_SEP, " ")
                            for v in (k, cn, cc)).encode("utf-8")
            fh.write(rec)
            roff.append(roff[-1] + len(rec))
    bounds.append(len(rows))
    _write_phrases(out_dir, keys)
    np.save(os.path.join(out_dir, "row_bounds.npy"),
            np.asarray(bounds, dtype=np.uint64))
    np.save(os.path.join(out_dir, "row_off.npy"),
            np.asarray(roff, dtype=np.uint64))

    meta = {"format": _TAX_FORMAT, "normalization_version": norm_ver,
            "n_phrases": len(keys), "n_rows": len(rows)}
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


class _TaxFiles:
    """Open-file state for the taxcat artifact — duck-typed subset of
    ``_MmapFiles`` (pbuf/poff/prefix2/first_crc/row_bounds + payload
    rows)."""

    def __init__(self, path: str):
        from .matcher import NORMALIZATION_VERSION
        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        if meta.get("format") != _TAX_FORMAT:
            raise ValueError(f"{path}: not a taxcat mmap artifact")
        if meta.get("normalization_version") != NORMALIZATION_VERSION:
            raise ValueError(
                f"taxcat mmap {path} normalized with version "
                f"{meta.get('normalization_version')}, engine expects "
                f"{NORMALIZATION_VERSION} — rebuild with build_taxcat_mmap")
        self.meta = meta

        self._pf = open(os.path.join(path, "phrases.bin"), "rb")
        self.pbuf = mmap.mmap(self._pf.fileno(), 0, access=mmap.ACCESS_READ)
        self.poff = _offsets(path, "phrase_off.npy")
        self.row_bounds = _offsets(path, "row_bounds.npy")
        self.prefix2 = _offsets(path, "prefix2.npy")
        self.first_crc = np.load(os.path.join(path, "first_crc.npy"),
                                 mmap_mode="r")
        self._rf = open(os.path.join(path, "rows.bin"), "rb")
        self.rbuf = mmap.mmap(self._rf.fileno(), 0, access=mmap.ACCESS_READ)
        self.roff = _offsets(path, "row_off.npy")


class MmapTaxcatIndex(MmapGazetteerIndex):
    """Taxon phrase tagger over the taxcat mmap artifact — inherits the
    gazetteer artifact's scan (first-token filter, prefix2 buckets,
    binary-search extension, token memo, LDR overlap resolution,
    TAG_LIMIT); only payload hydration
    differs: rows are (kind, canonical, cc) tuples, the PhraseIndex
    payload contract ``tag_taxons`` expects."""

    def __init__(self, path: str):
        self.f = _TaxFiles(path)
        self._memo = {}
        self._tok_memo = {}

    def _places(self, k: int) -> list[tuple]:
        hit = self._memo.get(k)
        if hit is None:
            b0, b1 = self.f.row_bounds[k], self.f.row_bounds[k + 1]
            hit = []
            for r in range(b0, b1):
                rec = self.f.rbuf[self.f.roff[r]:self.f.roff[r + 1]] \
                    .decode("utf-8").split(_SEP)
                hit.append(tuple(None if v == _NULL else v for v in rec))
            if len(self._memo) > 200_000:
                self._memo.clear()
            self._memo[k] = hit
        return hit


# --- generic keyed mmap table (postal-class side tables) ---------------------

_KV_FORMAT = "xponents-kvmmap-1"


def build_keyed_mmap(out_dir: str, keys: list[str],
                     rows: list[tuple]) -> dict:
    """Compile (key, value-row) pairs into a sorted mmap lookup table —
    the shared-memory path for side tables like the reference's 4M
    COUNTRY+CODE postal tuples (PostalGeocoder.java:25-33), which would
    otherwise cost ~1 GB of dict heap PER WORKER.  Values serialize as
    strings; a per-column type tag in meta.json (agreed across ALL rows —
    int/float mixes promote to float, other conflicts fall back to str)
    re-types every column on read, so numeric columns round-trip typed
    (review finding: the old strings-plus-lat/lon contract silently
    stringified any later-added numeric column)."""
    import builtins
    order = sorted(range(len(keys)), key=lambda i: keys[i])
    os.makedirs(out_dir, exist_ok=True)
    kblob_parts: list[bytes] = []
    koff = [0]
    bounds = [0]
    prev = None
    n_keys = 0
    roff = [0]
    with open(os.path.join(out_dir, "rows.bin"), "wb") as fh:
        for pos, i in enumerate(order):
            k = keys[i]
            if k != prev:
                if prev is not None:
                    bounds.append(pos)
                b = k.encode("utf-8")
                kblob_parts.append(b)
                koff.append(koff[-1] + len(b))
                prev = k
                n_keys += 1
            rec = _SEP.join(
                _NULL if v is None else builtins.str(v).replace(_SEP, " ")
                for v in rows[i]).encode("utf-8")
            fh.write(rec)
            roff.append(roff[-1] + len(rec))
    bounds.append(len(order))
    with open(os.path.join(out_dir, "keys.bin"), "wb") as fh:
        fh.write(b"".join(kblob_parts))
    np.save(os.path.join(out_dir, "key_off.npy"),
            np.asarray(koff, dtype=np.uint64))
    np.save(os.path.join(out_dir, "row_bounds.npy"),
            np.asarray(bounds, dtype=np.uint64))
    np.save(os.path.join(out_dir, "row_off.npy"),
            np.asarray(roff, dtype=np.uint64))
    # per-column type tags scanned over ALL rows (a first-row-only scan
    # mis-tags mixed columns and then crashes int('n/a') at READ time —
    # review finding): bool before int (bool is an int subclass).  An
    # int/float mix promotes to 'float' (float() parses both reprs); any
    # other conflict falls back to 'str'; short rows contribute None and
    # don't affect the tag
    n_cols = max((len(r) for r in rows), default=0)
    types = []
    for c in range(n_cols):
        tag = None
        for r in rows:
            v = r[c] if c < len(r) else None
            if v is None:
                continue
            t = ("bool" if isinstance(v, bool)
                 else "int" if isinstance(v, int)
                 else "float" if isinstance(v, float) else "str")
            if tag is None or tag == t:
                tag = t
            elif {tag, t} == {"int", "float"}:
                tag = "float"
            else:
                tag = "str"
                break
        types.append(tag or "str")
    meta = {"format": _KV_FORMAT, "n_keys": int(n_keys),
            "n_rows": len(order), "types": types}
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


class MmapKeyedTable:
    """Sorted-key binary-search lookup over the keyed mmap artifact; page
    cache shared across workers, O(1) private heap + a bounded memo."""

    def __init__(self, path: str):
        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        if meta.get("format") != _KV_FORMAT:
            raise ValueError(f"{path}: not a keyed mmap artifact")
        self.n = meta["n_keys"]
        self._kf = open(os.path.join(path, "keys.bin"), "rb")
        self.kbuf = mmap.mmap(self._kf.fileno(), 0, access=mmap.ACCESS_READ)
        self.koff = _offsets(path, "key_off.npy")
        self.bounds = _offsets(path, "row_bounds.npy")
        self._rf = open(os.path.join(path, "rows.bin"), "rb")
        self.rbuf = mmap.mmap(self._rf.fileno(), 0, access=mmap.ACCESS_READ)
        self.roff = _offsets(path, "row_off.npy")
        _CONV = {"str": str, "int": int, "float": float,
                 "bool": lambda s: s == "True"}
        self._conv = [_CONV.get(t, str) for t in meta.get("types", [])]
        self._memo: dict[str, list[tuple]] = {}

    def _key_at(self, k: int) -> bytes:
        return self.kbuf[self.koff[k]:self.koff[k + 1]]

    def get(self, key: str) -> list[tuple]:
        hit = self._memo.get(key)
        if hit is not None:
            return hit
        kb = key.encode("utf-8")
        lo, hi = 0, self.n
        while lo < hi:
            mid = (lo + hi) >> 1
            if self._key_at(mid) < kb:
                lo = mid + 1
            else:
                hi = mid
        out: list[tuple] = []
        if lo < self.n and self._key_at(lo) == kb:
            conv = self._conv
            b0, b1 = self.bounds[lo], self.bounds[lo + 1]
            for r in range(b0, b1):
                rec = self.rbuf[self.roff[r]:self.roff[r + 1]] \
                    .decode("utf-8").split(_SEP)
                if conv:
                    # index-based (not zip): a record wider than the type
                    # list keeps its trailing fields as strings instead of
                    # silently dropping them (review finding)
                    out.append(tuple(
                        None if f == _NULL
                        else (conv[i](f) if i < len(conv) else f)
                        for i, f in enumerate(rec)))
                else:    # pre-typed-meta artifact: stringly fallback
                    out.append(tuple(None if f == _NULL else f for f in rec))
        if len(self._memo) > 100_000:
            self._memo.clear()
        self._memo[key] = out
        return out


# --- parquet -> artifact resolution ------------------------------------------

def _kind(kind: str):
    """(format, normalization version, builder) of a reference table."""
    from .matcher import NORMALIZATION_VERSION
    from .postal import build_postal_mmap
    return {"gazetteer": (_FORMAT, NORMALIZATION_VERSION, build_mmap_artifact),
            "taxcat": (_TAX_FORMAT, NORMALIZATION_VERSION, build_taxcat_mmap),
            "postal": (_KV_FORMAT, None, build_postal_mmap)}[kind]


def _is_current(art: str, fmt: str, norm_ver) -> bool:
    try:
        with open(os.path.join(art, "meta.json")) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        return False
    return (meta.get("format") == fmt
            and meta.get("normalization_version") == norm_ver)


def resolve(path: str | None, kind: str) -> str | None:
    """The artifact path workers open for ``kind`` ('gazetteer', 'taxcat'
    or 'postal').  ``None`` and artifact paths (a directory holding
    ``meta.json``) pass through unchanged.  A parquet path resolves to
    ``<path>/_mmap``, built there if it is missing or its format or
    normalization version is not this engine's, and only checked
    otherwise.

    The build goes to a ``_``-prefixed temp dir inside the parquet and is
    renamed into place, so no reader ever sees a partial artifact.  If
    another process's rename wins, that artifact is used and this one is
    discarded."""
    if path is None or os.path.exists(os.path.join(path, "meta.json")):
        return path
    if not os.path.isdir(path):
        raise ValueError(f"{path}: expected a parquet directory or an mmap "
                         f"artifact directory")
    fmt, norm_ver, build = _kind(kind)
    art = os.path.join(path, "_mmap")
    if _is_current(art, fmt, norm_ver):
        return art
    tmp = tempfile.mkdtemp(prefix="_mmap-build-", dir=path)
    try:
        build(path, tmp)
        if os.path.isdir(art) and not _is_current(art, fmt, norm_ver):
            # stale: renaming it over an empty dir is atomic, so no reader
            # sees a half-deleted tree
            old = tempfile.mkdtemp(prefix="_mmap-stale-", dir=path)
            try:
                os.rename(art, old)
            except FileNotFoundError:    # another process moved it first
                pass
            shutil.rmtree(old, ignore_errors=True)
        try:
            os.rename(tmp, art)
        except OSError:                  # another process's build won
            if not _is_current(art, fmt, norm_ver):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return art
