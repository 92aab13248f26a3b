"""Scale-path reference tables: synth generator -> ETL -> parquet -> mmap
artifact (``mmapstore.resolve``), with parity against the in-heap
PhraseIndex / SpatialIndex / embedded dicts built from the same rows
(VERDICT r1 item 3)."""

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from xponents_spark.gazetteer import matcher
from xponents_spark.gazetteer.matcher import (NORMALIZATION_VERSION,
                                              PhraseIndex, Place)
from xponents_spark.gazetteer.mmapstore import (MmapGazetteerIndex,
                                                MmapSpatialIndex, resolve)
from xponents_spark.sources.gazetteer_etl import (build_tagger_parquet,
                                                  gazetteer_etl)
from xponents_spark.sources.gazetteer_synth import synthesize_gazetteer_raw

_COLS = ["place_id", "name", "name_type", "feat_class", "feat_code",
         "cc", "adm1", "lat", "lon", "id_bias", "pop"]

# one place with a name row and a code row; in source order the name row
# comes first, in phrase order ('san' < 'sannov') the code row does
_SANNOV = [
    ("S229719", "Sannov", "N", "P", "PPL", "XX", "01", 10.01, 20.01, 3, 900,
     "sannov"),
    ("S229719", "SAN", "C", "P", "PPL", "XX", "01", 10.01, 20.01, 3, 900,
     "san"),
    ("P2", "Otherby", "N", "P", "PPL", "XX", "01", 10.05, 20.05, 1, 10,
     "otherby"),
    ("P3", "Farby", "N", "A", "ADM2", "XX", "01", 10.30, 19.80, 2, 0,
     "farby"),
]


def _write_tagger(d: str, rows) -> str:
    """A tagger parquet written directly: rows in the given source order."""
    out = os.path.join(d, "tagger.parquet")
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(
        [dict(zip(_COLS + ["phrase"], r)) for r in rows]),
        os.path.join(out, "part-0.parquet"))
    with open(os.path.join(out, "_normalization.json"), "w") as fh:
        json.dump({"normalization_version": NORMALIZATION_VERSION}, fh)
    return out


def _places(tagger_parquet: str) -> list[Place]:
    """The parquet's rows as Places, in source (part-file) order."""
    return [Place(*[r[c] for c in _COLS])
            for r in pq.read_table(tagger_parquet, columns=_COLS).to_pylist()]


@pytest.fixture(scope="module")
def tagger_pq(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("gaz") / "tagger.parquet")
    raw = synthesize_gazetteer_raw(spark, n_rows=20_000, partitions=8)
    build_tagger_parquet(gazetteer_etl(raw), out)
    return out


def test_synth_is_deterministic_and_collides(spark):
    a = synthesize_gazetteer_raw(spark, 5_000, partitions=4).collect()
    b = synthesize_gazetteer_raw(spark, 5_000, partitions=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    names = [r["name"] for r in a]
    top = max(names, key=names.count)
    # Zipf pool: the hottest name recurs across many places/countries
    assert names.count(top) > 20
    ccs = {r["cc"] for r in a if r["name"] == top}
    assert len(ccs) > 5


def test_parquet_index_matches_phrase_index(tagger_pq):
    """A tagger parquet tags through its mmap artifact exactly like the
    in-heap PhraseIndex over the same rows: spans, matchtext and the
    hydrated candidate places in order, on known names, multi-token
    names, repeated names and misses."""
    places = _places(tagger_pq)
    mem = PhraseIndex([(p.name, p) for p in places])
    names = [p.name for p in places[:80]]
    texts = [f"we visited {n} on the way home" for n in names]
    texts += ["no placenames at all here", "", "a b c d e f g",
              f"{names[0]} and {names[1]} twice {names[0]}"]
    matcher.set_gazetteer_parquet(tagger_pq)
    try:
        idx = matcher.gaz_index()
        assert isinstance(idx, MmapGazetteerIndex)
        assert any(idx.scan(t) for t in texts)
        for text in texts:
            assert idx.scan(text) == mem.scan(text), text[:60]
    finally:
        matcher.set_gazetteer_parquet(None)


def test_extract_with_parquet_gazetteer(spark, tagger_pq):
    """The Spark path: workers read the tagger parquet directly (no driver
    collect) and tag a known synthetic name."""
    import datetime

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from xponents_spark.pipeline import extract
    from xponents_spark.schemas import TRANSCRIPT_SCHEMA

    name = spark.read.parquet(tagger_pq) \
        .filter("name_type = 'N' AND length(name) >= 8") \
        .orderBy("place_id").first()["name"]
    rows = [Row(conv_id="c0", turn_idx=i, role="user",
                text=f"meeting in {name} tomorrow", tool=None,
                ts=datetime.datetime(2025, 1, 1)) for i in range(8)]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    out = extract(df, features=("places", "countries"),
                  gazetteer_parquet=tagger_pq)
    got = (out.select(F.explode("matches").alias("m"))
              .filter(F.col("m.label").isin("place", "country"))
              .select("m.matchtext").collect())
    assert len(got) == 8
    assert all(r["matchtext"] == name for r in got)


def test_mmap_spatial_matches_reference_impl(tagger_pq, tmp_path):
    """The artifact's reverse-geocode grid returns the same hydrated
    places, in the same order, as the in-heap SpatialIndex over the same
    rows — including a place whose code row sorts before its name row
    (the phrase-sorted grid once answered 'SAN' for 'Sannov')."""
    from xponents_spark.gazetteer.spatial import SpatialIndex

    small = _write_tagger(str(tmp_path), _SANNOV)
    got = MmapSpatialIndex(resolve(small, "gazetteer")).places_at(10.0, 20.0)
    want = SpatialIndex(_places(small)).places_at(10.0, 20.0)
    assert [p for _d, p in got] == [p for _d, p in want]
    assert [p.name for _d, p in got] == ["Sannov", "Otherby", "Farby"]
    assert np.allclose([d for d, _p in got], [d for d, _p in want])


def test_compact_spatial_matches_reference_impl(tagger_pq):
    """The compact reverse-geocode grid (the artifact's packed, mmap'd cell
    arrays) answers random points with the same hydrated places, in the
    same order and at the same distances, as the in-heap SpatialIndex over
    the same rows."""
    from xponents_spark.gazetteer.spatial import SpatialIndex

    mem = SpatialIndex(_places(tagger_pq))
    mm = MmapSpatialIndex(resolve(tagger_pq, "gazetteer"))
    rng = np.random.RandomState(7)
    hits = 0
    for _ in range(60):
        lat = float(rng.uniform(-80, 80))
        lon = float(rng.uniform(-175, 175))
        a = mem.places_at(lat, lon, 50)
        b = mm.places_at(lat, lon, 50)
        assert [p for _d, p in a] == [p for _d, p in b], (lat, lon)
        assert np.allclose([d for d, _p in a], [d for d, _p in b])
        hits += bool(a)
    assert hits


def test_parquet_gazetteer_resets_cleanly(tagger_pq):
    matcher.set_gazetteer_parquet(tagger_pq)
    try:
        assert isinstance(matcher.gaz_index(), MmapGazetteerIndex)
    finally:
        matcher.set_gazetteer_parquet(None)
    # back to the embedded fixture gazetteer
    assert isinstance(matcher.gaz_index(), PhraseIndex)
    assert matcher.gaz_index().scan("the London office") != []


def test_postal_parquet_path(spark, tmp_path_factory):
    """Parquet-backed postal table: resolves to its keyed mmap artifact,
    opens lazily, resets, and tags a synthesized code end to end."""
    from xponents_spark.gazetteer import postal
    from xponents_spark.sources.gazetteer_synth import synthesize_postal_raw

    out = str(tmp_path_factory.mktemp("postal") / "postal.parquet")
    synthesize_postal_raw(spark, n_rows=5_000, partitions=4) \
        .write.mode("overwrite").parquet(out)
    try:
        postal.set_postal_parquet(out)
        assert postal._POSTAL_PATH == os.path.join(out, "_mmap")
        assert postal._BY_CODE is None   # lazy until first lookup
        row = spark.read.parquet(out).first()
        # a code adjacent to country scope resolves through the big table
        hits = postal.tag_postals(f"parcel code {row['code']} sent", [],
                                  {row["cc"]})
        assert any(h["cc"] == row["cc"] and h["matchtext"] == row["code"]
                   for h in hits)
    finally:
        postal.set_postal_parquet(None)
    assert len(postal._codes()) == len(postal.POSTAL_ROWS)


def test_taxcat_parquet_path(spark, tmp_path_factory):
    """T4 scale artifact (VERDICT r2 item 7): synth JRC/person-scale
    lexicon -> ETL -> parquet -> worker-side index; known names tag, the
    valid:false gate holds, and reset semantics restore the embedded
    lexicons."""
    from xponents_spark.sources.taxcat_etl import (build_taxcat_parquet,
                                                   synthesize_taxcat_raw,
                                                   taxcat_etl)

    out = str(tmp_path_factory.mktemp("taxcat") / "taxcat.parquet")
    raw = synthesize_taxcat_raw(spark, n_rows=40_000, partitions=8)
    build_taxcat_parquet(taxcat_etl(raw), out)

    rows = spark.read.parquet(out).collect()
    assert len(rows) > 1_000
    valid = next(r for r in rows if r["valid"])
    try:
        matcher.set_taxcat_parquet(out)
        hits = matcher.tag_taxons(f"meeting with {valid['name']} tomorrow")
        assert any(m == valid["name"] and k == valid["kind"]
                   for _s, _e, m, k, _c, _cc in hits)
        # an invalid row whose name is not also a valid entry must not tag
        valid_names = {r["name"].lower() for r in rows if r["valid"]}
        bad = next((r for r in rows
                    if not r["valid"] and r["name"].lower() not in valid_names),
                   None)
        if bad is not None:
            hits = matcher.tag_taxons(f"meeting with {bad['name']} tomorrow")
            assert not any(m == bad["name"]
                           for _s, _e, m, _k, _c, _cc in hits)
    finally:
        matcher.set_taxcat_parquet(None)
    # embedded lexicons restored
    assert matcher.tag_taxons("the Australian delegation")


def test_taxcat_parquet_matches_embedded(spark, tmp_path_factory):
    """Embedded lexicons written through the taxcat ETL produce the exact
    same taxon tags as the in-memory path (the driver-gate equivalence)."""
    from xponents_spark.sources.taxcat_etl import (build_taxcat_parquet,
                                                   embedded_taxcat_df)

    out = str(tmp_path_factory.mktemp("taxcat_emb") / "taxcat.parquet")
    build_taxcat_parquet(embedded_taxcat_df(spark).repartition(1)
                         .sortWithinPartitions("kind", "name"), out)
    probe = ("Mr Smith of Acme Corporation met the Australian envoy "
             "and French officials in town")
    base = matcher.tag_taxons(probe)
    try:
        matcher.set_taxcat_parquet(out)
        assert matcher.tag_taxons(probe) == base
    finally:
        matcher.set_taxcat_parquet(None)


def test_postal_mmap_path(spark, tmp_path_factory, monkeypatch):
    """Keyed mmap postal table: every lookup and tag equals the in-heap
    code map built from the same rows (the embedded table's form), with
    O(1) private heap (the 4M-tuple reference-scale answer)."""
    from xponents_spark.gazetteer import postal
    from xponents_spark.sources.gazetteer_synth import synthesize_postal_raw

    base = tmp_path_factory.mktemp("postal_mm")
    pq_path = str(base / "postal.parquet")
    mm_path = str(base / "postal.kvmmap")
    synthesize_postal_raw(spark, n_rows=5_000, partitions=4) \
        .write.mode("overwrite").parquet(pq_path)
    tbl = pq.read_table(pq_path)
    rows = list(zip(*[tbl.column(c).to_pylist()
                      for c in ("cc", "adm1", "code", "name", "lat", "lon")]))
    meta = postal.build_postal_mmap(pq_path, mm_path)
    assert meta["n_rows"] == len(rows)

    ref = postal._build_code_map(rows)
    codes = postal._MmapCodes(mm_path)
    assert all(codes.get(k) == v for k, v in ref.items())
    assert codes.get("NOSUCHCODE") is None

    row = spark.read.parquet(pq_path).first()
    probe = f"parcel code {row['code']} sent"
    try:
        postal.set_postal_parquet(mm_path)
        assert postal._BY_CODE is None   # lazy
        via_mmap = postal.tag_postals(probe, [], {row["cc"]})
    finally:
        postal.set_postal_parquet(None)
    monkeypatch.setattr(postal, "_BY_CODE", ref)
    assert postal.tag_postals(probe, [], {row["cc"]}) == via_mmap
    assert via_mmap


def test_normalization_version_fingerprint(spark, tmp_path_factory):
    """A tagger parquet without its sidecar, or built under different
    normalization semantics, is refused when it resolves to its artifact
    instead of silently not matching; nothing is left behind."""
    out = str(tmp_path_factory.mktemp("gazv") / "tagger.parquet")
    raw = synthesize_gazetteer_raw(spark, n_rows=500, partitions=2)
    build_tagger_parquet(gazetteer_etl(raw), out)
    meta = os.path.join(out, "_normalization.json")
    assert json.load(open(meta))["normalization_version"] >= 2
    json.dump({"normalization_version": 1}, open(meta, "w"))
    with pytest.raises(ValueError, match="normalized with version"):
        resolve(out, "gazetteer")
    os.remove(meta)
    with pytest.raises(ValueError, match="no _normalization.json"):
        resolve(out, "gazetteer")
    assert not [e for e in os.listdir(out) if e.startswith("_mmap")]
    json.dump({"normalization_version": NORMALIZATION_VERSION},
              open(meta, "w"))
    assert resolve(out, "gazetteer") == os.path.join(out, "_mmap")


@pytest.fixture(scope="module")
def mmap_dir(tagger_pq, tmp_path_factory):
    from xponents_spark.gazetteer.mmapstore import build_mmap_artifact
    out = str(tmp_path_factory.mktemp("gazmm") / "tagger.mmap")
    meta = build_mmap_artifact(tagger_pq, out)
    assert meta["n_phrases"] > 0 and meta["n_rows"] >= meta["n_phrases"]
    return out


def test_mmap_index_matches_parquet_index(tagger_pq, mmap_dir):
    """An artifact built directly and the index a tagger parquet resolves
    to agree on spans, matchtext and hydrated places, on known names,
    multi-token names and misses."""
    mm_idx = MmapGazetteerIndex(mmap_dir)
    names = [p.name for p in _places(tagger_pq)[:80]]
    texts = [f"we visited {n} on the way home" for n in names]
    texts += ["no placenames at all here", "", "a b c d e f g",
              f"{names[0]} and {names[1]} twice {names[0]}"]
    matcher.set_gazetteer_parquet(tagger_pq)
    try:
        pq_idx = matcher.gaz_index()
        assert matcher._GAZ_PATH == os.path.join(tagger_pq, "_mmap")
        assert any(pq_idx.scan(t) for t in texts)
        for text in texts:
            assert mm_idx.scan(text) == pq_idx.scan(text), text[:60]
    finally:
        matcher.set_gazetteer_parquet(None)


def test_mmap_spatial_matches_compact(tagger_pq, mmap_dir):
    """The reverse-geocode grid of an artifact built directly equals the
    compact grid ``spatial.spatial_index`` serves for a tagger parquet."""
    from xponents_spark.gazetteer import spatial

    mm_idx = MmapSpatialIndex(mmap_dir)
    matcher.set_gazetteer_parquet(tagger_pq)
    try:
        pq_idx = spatial.spatial_index()
        assert isinstance(pq_idx, MmapSpatialIndex)
        rng = np.random.RandomState(11)
        hits = 0
        for _ in range(40):
            lat = float(rng.uniform(-80, 80))
            lon = float(rng.uniform(-175, 175))
            a = mm_idx.places_at(lat, lon, 50)
            b = pq_idx.places_at(lat, lon, 50)
            assert a == b, (lat, lon)
            hits += bool(a)
        assert hits
    finally:
        matcher.set_gazetteer_parquet(None)
    assert isinstance(spatial.spatial_index(), spatial.SpatialIndex)


def test_extract_with_mmap_gazetteer(spark, tagger_pq, mmap_dir):
    """End-to-end Spark path over the mmap artifact: gazetteer_parquet may
    name the tagger parquet or an artifact, with the same matches."""
    import datetime

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from xponents_spark.pipeline import extract
    from xponents_spark.schemas import TRANSCRIPT_SCHEMA

    names = [r["name"] for r in spark.read.parquet(tagger_pq)
             .filter("name_type = 'N' AND length(name) >= 8")
             .orderBy("place_id").limit(6).collect()]
    rows = [Row(conv_id="c0", turn_idx=i, role="user",
                text=f"meeting in {n} tomorrow, then {names[0]} at "
                     f"12.5N 45.25E", tool=None,
                ts=datetime.datetime(2025, 1, 1))
            for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    out = extract(df, features=("places", "countries"),
                  gazetteer_parquet=mmap_dir)
    got = (out.select(F.explode("matches").alias("m"))
              .filter(F.col("m.label").isin("place", "country"))
              .select("m.matchtext").collect())
    assert sorted(r["matchtext"] for r in got) == sorted(names + names[:1] * 6)

    def matches(gaz):
        return sorted(map(tuple, extract(df, gazetteer_parquet=gaz)
                          .select("turn_idx", "matches").collect()))

    via_artifact = matches(mmap_dir)
    assert any(m["label"] == "coord" for _t, ms in via_artifact for m in ms)
    assert matches(tagger_pq) == via_artifact


def test_mmap_version_fingerprint(tagger_pq, tmp_path_factory):
    from xponents_spark.gazetteer.mmapstore import build_mmap_artifact
    out = str(tmp_path_factory.mktemp("gazmmv") / "tagger.mmap")
    build_mmap_artifact(tagger_pq, out)
    MmapGazetteerIndex(out)
    meta = os.path.join(out, "meta.json")
    m = json.load(open(meta))
    m["normalization_version"] = 1
    json.dump(m, open(meta, "w"))
    # fresh process-level state: drop the shared-file memo for this path
    from xponents_spark.gazetteer import mmapstore
    mmapstore._FILES.pop(out, None)
    with pytest.raises(ValueError, match="normalized with version"):
        MmapGazetteerIndex(out)


def test_cjk_names_tag_through_parquet_index(spark, tmp_path_factory):
    """CJK names in the scale gazetteer index as per-char phrases and tag
    inside unsegmented runs through the parquet input's index."""
    out = str(tmp_path_factory.mktemp("gazcjk") / "tagger.parquet")
    raw = synthesize_gazetteer_raw(spark, n_rows=30_000, partitions=8)
    build_tagger_parquet(gazetteer_etl(raw), out)
    cjk = (spark.read.parquet(out)
           .filter("name rlike '[\\\\x{4e00}-\\\\x{9fff}]'").limit(5).collect())
    assert cjk, "synth should emit CJK names"
    matcher.set_gazetteer_parquet(out)
    try:
        idx = matcher.gaz_index()
        for r in cjk:
            hits = idx.scan(f"前往{r['name']}旅行")
            assert any(m == r["name"] for _s, _e, m, _p in hits), r["name"]
    finally:
        matcher.set_gazetteer_parquet(None)


def test_taxcat_mmap_parity(spark, tmp_path):
    """A taxcat mmap artifact, passed as an artifact path, tags
    IDENTICALLY to the embedded in-heap lexicons it was built from over
    the fixture payload texts (same phrases, spans, payloads)."""
    from xponents_spark.gazetteer.mmapstore import build_taxcat_mmap
    from xponents_spark.sources.payloads import PAYLOADS
    from xponents_spark.sources.taxcat_etl import (build_taxcat_parquet,
                                                   embedded_taxcat_df)

    pq_dir = str(tmp_path / "taxcat.parquet")
    build_taxcat_parquet(
        embedded_taxcat_df(spark).repartition(1)
        .sortWithinPartitions("kind", "name"), pq_dir)
    mm_dir = str(tmp_path / "taxcat.mmap")
    meta = build_taxcat_mmap(pq_dir, mm_dir)
    assert meta["n_rows"] > 0

    texts = [body for _kind, body in PAYLOADS if body] + [
        "Dr. Maria Santos of the World Health Organization met the "
        "Brazilian delegation",
        "", "no entities here at all"]
    a = [matcher.tag_taxons(t) for t in texts]
    try:
        matcher.set_taxcat_parquet(mm_dir)
        assert resolve(mm_dir, "taxcat") == mm_dir
        b = [matcher.tag_taxons(t) for t in texts]
    finally:
        matcher.set_taxcat_parquet(None)
    assert a == b
    assert any(a)    # fixtures actually contain taxons


def test_resolve_builds_once_and_rebuilds_stale(tmp_path):
    """A parquet builds ``_mmap`` once and reuses it; a format or
    normalization mismatch rebuilds it; artifact paths pass through."""
    pq_dir = _write_tagger(str(tmp_path), _SANNOV)
    art = resolve(pq_dir, "gazetteer")
    assert art == os.path.join(pq_dir, "_mmap")
    assert [e for e in os.listdir(pq_dir) if e.startswith("_mmap")] == ["_mmap"]
    meta = os.path.join(art, "meta.json")
    mtime = os.stat(meta).st_mtime_ns
    assert resolve(pq_dir, "gazetteer") == art
    assert os.stat(meta).st_mtime_ns == mtime       # reused, not rebuilt
    assert resolve(art, "gazetteer") == art
    for key, stale in (("format", "xponents-mmap-1"),
                       ("normalization_version", 1)):
        m = json.load(open(meta))
        m[key] = stale
        json.dump(m, open(meta, "w"))
        assert resolve(pq_dir, "gazetteer") == art
        assert json.load(open(meta))[key] != stale   # rebuilt
    assert [e for e in os.listdir(pq_dir) if e.startswith("_mmap")] == ["_mmap"]
    assert MmapGazetteerIndex(art).scan("to Sannov")[0][2] == "Sannov"
    with pytest.raises(ValueError, match="expected a parquet directory"):
        resolve(os.path.join(pq_dir, "part-0.parquet"), "gazetteer")


def test_resolve_concurrent_builders_agree(tagger_pq, tmp_path):
    """More processes than cores resolve one parquet at once, over a stale
    artifact: all get the same path, one current artifact remains, and
    no temp dir is left behind."""
    pq_dir = str(tmp_path / "tagger.parquet")
    shutil.copytree(tagger_pq, pq_dir, ignore=shutil.ignore_patterns("_mmap"))
    os.makedirs(os.path.join(pq_dir, "_mmap"))
    with open(os.path.join(pq_dir, "_mmap", "meta.json"), "w") as fh:
        json.dump({"format": "xponents-mmap-1"}, fh)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = ("import sys; sys.path.insert(0, sys.argv[1]); "
            "from xponents_spark.gazetteer.mmapstore import resolve; "
            "print(resolve(sys.argv[2], 'gazetteer'))")
    procs = [subprocess.Popen([sys.executable, "-c", code, root, pq_dir],
                              stdout=subprocess.PIPE, text=True)
             for _ in range(2 * (os.cpu_count() or 1) + 2)]
    outs = [p.communicate(timeout=300)[0].strip() for p in procs]
    assert [p.returncode for p in procs] == [0] * len(procs)
    art = os.path.join(pq_dir, "_mmap")
    assert set(outs) == {art}
    assert [e for e in os.listdir(pq_dir) if e.startswith("_mmap")] == ["_mmap"]
    mem = PhraseIndex([(p.name, p) for p in _places(pq_dir)])
    name = _places(pq_dir)[0].name
    assert MmapGazetteerIndex(art).scan(f"in {name} now") == \
        mem.scan(f"in {name} now")


def test_mmap_dir_invisible_to_parquet_readers(spark, tmp_path):
    """Spark and pyarrow skip ``_mmap/`` when they read the parquet;
    overwriting the parquet deletes its artifact, and the rebuilt one is
    served in place of the old mapping."""
    pq_dir = _write_tagger(str(tmp_path), _SANNOV)
    n = len(_SANNOV)
    assert spark.read.parquet(pq_dir).count() == n
    art = resolve(pq_dir, "gazetteer")
    assert MmapGazetteerIndex(art).scan("to Otherby")
    assert spark.read.parquet(pq_dir).count() == n
    assert pq.read_table(pq_dir).num_rows == n
    spark.createDataFrame([dict(zip(_COLS + ["phrase"], r))
                           for r in _SANNOV[:2]]) \
        .write.mode("overwrite").parquet(pq_dir)
    assert not os.path.exists(art)
    with open(os.path.join(pq_dir, "_normalization.json"), "w") as fh:
        json.dump({"normalization_version": NORMALIZATION_VERSION}, fh)
    assert resolve(pq_dir, "gazetteer") == art
    assert MmapGazetteerIndex(art).scan("to Otherby") == []
