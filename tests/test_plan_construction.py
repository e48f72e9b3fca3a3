"""Driver-side plan construction of the dedup-index extend.

The extend's hot projections (MinHash signatures and band keys, the
band/doc shard routes, the candidate read's band-key filter) are parsed
from SQL text instead of built as Column trees, and its companion-table
reads take a schema instead of inferring one.  Pinned here:

* bit-identity: every fast construction equals the former Column-API
  construction (kept below as the reference) in schema — nullability
  included — and rows, on a corpus with empty, 1-, 2-, 3-token and long
  docs;
* ``read_version(..., schema=S)`` returns the inferred read's schema and
  rows for every dedup family's band and doc tables, keeps a zero-padded
  partition value a string, and leaves the session conf alone;
* the JVM-boundary cost, the way ``CountingFs`` pins file reads: py4j
  round trips to BUILD ``lsh_banded``, and Spark jobs launched by a
  schema-given ``read_version``.
"""

import random
import time
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from chronicles_spark.core.model import (
    PartitionSchema,
    TableDefinition,
    TableName,
)
from chronicles_spark.operators import (
    dedup as DD,
    dedup_index as DX,
    emb_dedup_index as EX,
    semantic_dedup_index as SDX,
    simhash_index as SX,
)
from chronicles_spark.sources import load_table
from chronicles_spark.spark.reader import read_version
from chronicles_spark.trackers import FileBackedVersionTracker
from tests.conftest import SF_DIR


# -- the former Column-API constructions (the slow-path reference) ----------


def _ref_lsh_banded(base, id_col="doc_id", bands=8, rows=2):
    def salted(prefix):
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    sigs = base.where(F.size("shingles") > 0).select(
        F.col(id_col),
        *[
            F.array_min(F.transform(F.col("shingles"), salted(f"{i}|"))).alias(
                f"sig_{i}"
            )
            for i in range(bands * rows)
        ],
    )
    keys = [
        F.md5(
            F.concat_ws("|", *[F.col(f"sig_{b * rows + r}") for r in range(rows)])
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), k.alias("band_key"))
                    for b, k in enumerate(keys)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band_id", "bk.band_key")


def _ref_band_shard_col(band_shards):
    return F.pmod(
        F.xxhash64(F.col("band_id"), F.col("band_key")), F.lit(band_shards)
    ).cast("string")


def _ref_doc_shard_col(id_col, doc_shards):
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(doc_shards)).cast("string")


def _ref_band_key_filter(band_rows):
    keys_by_band = {}
    for r in band_rows:
        keys_by_band.setdefault(r["band_id"], set()).add(r["band_key"])
    clause = None
    for band_id, keys in sorted(keys_by_band.items()):
        c = (F.col("band_id") == F.lit(band_id)) & F.col("band_key").isin(
            sorted(keys)
        )
        clause = c if clause is None else (clause | c)
    return clause


def _corpus(spark):
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    texts = ["", "alpha", "alpha beta", "alpha beta gamma", None,
             "Ünïcode  Straße, PUNCT!!  ok", "it's a 'quoted' \\ doc"]
    texts += [" ".join(rng.choice(vocab) for _ in range(n))
              for n in (4, 9, 30, 120, 400)]
    long_doc = " ".join(rng.choice(vocab) for _ in range(300))
    texts += [long_doc, long_doc + " tail"]  # a near-duplicate pair
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_lsh_banded_and_shard_routes_equal_column_reference(spark):
    base = DD.shingle_base(_corpus(spark)).cache()
    try:
        for bands, rows in ((8, 2), (4, 3), (1, 1)):
            got = DD.lsh_banded(base, "doc_id", bands, rows)
            want = _ref_lsh_banded(base, "doc_id", bands, rows)
            assert got.schema == want.schema
            assert _rows(got) == _rows(want) and _rows(got)

        banded = DD.lsh_banded(base, "doc_id").cache()
        got = banded.select(
            "band_id", "band_key", DX._band_shard_col(16).alias("s")
        )
        want = banded.select(
            "band_id", "band_key", _ref_band_shard_col(16).alias("s")
        )
        assert got.schema == want.schema
        assert _rows(got) == _rows(want)
        banded.unpersist()
    finally:
        base.unpersist()

    # doc routes over long and string ids (typed-value xxhash64)
    ids = spark.createDataFrame(
        [(i, f"id-{i}", "01" if i % 2 else "x'y") for i in range(50)],
        "doc_id long, sid string, odd string",
    )
    for col in ("doc_id", "sid", "odd"):
        got = ids.select(col, DX._doc_shard_col(col, 7).alias("s"))
        want = ids.select(col, _ref_doc_shard_col(col, 7).alias("s"))
        assert got.schema == want.schema
        assert _rows(got) == _rows(want)


def test_band_key_filter_equals_column_reference(spark):
    """Same optimized plan, same rows — including a key that occurs under
    another band_id (excluded by both: the filter is per band)."""
    band_rows = [
        {"band_id": 0, "band_key": "aa"},
        {"band_id": 0, "band_key": "bb"},
        {"band_id": 2, "band_key": "cc"},
        {"band_id": 2, "band_key": "aa"},
    ]
    live = spark.createDataFrame(
        [(i, b, k) for i in range(3) for b in range(4)
         for k in ("aa", "bb", "cc", "dd")],
        "doc_id long, band_id int, band_key string",
    )
    got = live.where(DX._band_key_filter(band_rows))
    want = live.where(_ref_band_key_filter(band_rows))
    assert (
        got._jdf.queryExecution().optimizedPlan().toString()
        == want._jdf.queryExecution().optimizedPlan().toString()
    )
    assert _rows(got) == _rows(want)
    assert {(r["band_id"], r["band_key"]) for r in got.collect()} == {
        (r["band_id"], r["band_key"]) for r in band_rows
    }
    assert DX._band_key_filter([]) is None


# -- schema-given reads ------------------------------------------------------


def _mk_index(tmp_path, name):
    tracker = FileBackedVersionTracker(str(tmp_path / f"_log_{name}"))
    table = TableDefinition(
        TableName("demo", name), str(tmp_path / name),
        PartitionSchema(("band_shard",)),
    )
    tracker.init_table(table.name, is_snapshot=False, user_id="t")
    return table, tracker


def _text_index(spark, table, tracker):
    docs = _corpus(spark).unionByName(
        load_table(spark, SF_DIR, "documents")
        .where("doc_id < 80")
        .selectExpr("doc_id + 1000 AS doc_id", "text")
    )
    DX.build_dedup_index(docs, table, tracker, band_shards=4, doc_shards=4)
    arts = DX.load_dedup_artifacts(table, tracker.current_version(table.name))
    return DX._text_family(arts, "doc_id", 0.5), "doc_id"


def _emb(spark):
    return load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    ).where("vec_id < 120")


def _emb_index(spark, table, tracker):
    EX.build_embedding_dedup_index(
        _emb(spark), table, tracker, dim=64, n_planes=16, bands=4,
        band_shards=4, doc_shards=4,
    )
    arts = EX.load_embedding_dedup_artifacts(
        table, tracker.current_version(table.name)
    )
    return EX._emb_family(arts, "vec_id", "embedding", 0.4), "vec_id"


def _simhash_index(spark, table, tracker):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    SX.build_simhash_dedup_index(
        docs.where("doc_id < 120"), table, tracker, band_shards=4,
        doc_shards=4,
    )
    arts = SX.load_simhash_dedup_artifacts(
        table, tracker.current_version(table.name)
    )
    return SX._sim_family(arts, "doc_id", 3), "doc_id"


def _semantic_index(spark, table, tracker):
    SDX.build_semantic_dedup_index(
        _emb(spark), table, tracker, dim=64, n_clusters=4, band_shards=4,
        doc_shards=4,
    )
    arts = SDX.load_semantic_dedup_artifacts(
        table, tracker.current_version(table.name)
    )
    return SDX._sem_family(arts, "vec_id", "embedding", 0.4), "vec_id"


@pytest.mark.parametrize(
    "build", [_text_index, _emb_index, _simhash_index, _semantic_index],
    ids=["text", "embedding", "simhash", "semantic"],
)
def test_schema_given_reads_equal_inferred_per_family(spark, tmp_path, build):
    """The extend's two schema sources — the doc footer
    ``_check_payload_types`` reads, and the band schema derived from the
    batch's band rows — equal the inferred schema of the stored tables,
    and a schema-given read returns the inferred read's rows."""
    table, tracker = _mk_index(tmp_path, build.__name__.strip("_"))
    family, id_col = build(spark, table, tracker)
    docs_table = DX.dedup_docs_table(table)
    state = tracker.current_version(table.name)
    docs_state = tracker.current_version(docs_table.name)

    def inferred(t, st):
        return read_version(
            spark, t, st, keep_version_column=True, infer_partition_types=False
        )

    docs = inferred(docs_table, docs_state)
    payload = docs.select(id_col, family.payload_col)
    docs_schema = DX._check_payload_types(
        spark, docs_table, docs_state, payload, id_col, family.payload_col
    )
    banded = family.band_fn(payload).withColumn(
        DX.BAND_SHARD_COL, DX._band_shard_col(4)
    )
    band_schema = DX._stored_band_schema(banded)

    for t, st, schema in (
        (docs_table, docs_state, docs_schema),
        (table, state, band_schema),
    ):
        want = inferred(t, st)
        assert schema == want.schema
        for keep in (True, False):
            got = read_version(spark, t, st, keep, schema=schema)
            ref = read_version(
                spark, t, st, keep, infer_partition_types=False
            )
            assert got.schema == ref.schema
            assert _rows(got) == _rows(ref) and _rows(got)


def test_schema_given_read_keeps_padded_partition_string(spark, tmp_path, monkeypatch):
    from chronicles_spark.spark.writer import versioned_insert_into
    from chronicles_spark.trackers import InMemoryVersionTracker

    table = TableDefinition(
        TableName("m", "pad"), str(tmp_path / "pad"), PartitionSchema(("d",))
    )
    tracker = InMemoryVersionTracker()
    tracker.init_table(table.name, is_snapshot=False, user_id="t")
    versioned_insert_into(
        spark.createDataFrame([(1, "01"), (2, "002"), (3, "7")], ["id", "d"]),
        table, tracker, "t", "v1",
    )
    state = tracker.current_version(table.name)
    schema = read_version(
        spark, table, state, keep_version_column=True,
        infer_partition_types=False,
    ).schema
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    before = spark.conf.get(key, None)
    sets = []
    conf_set = type(spark.conf).set
    monkeypatch.setattr(
        type(spark.conf), "set",
        lambda self, k, v: (sets.append(k), conf_set(self, k, v))[1],
    )
    df = read_version(spark, table, state, schema=schema)
    monkeypatch.undo()
    got = sorted((r["id"], r["d"]) for r in df.collect())
    assert sets == []
    assert spark.conf.get(key, None) == before
    assert dict(df.dtypes)["d"] == "string"
    assert got == [(1, "01"), (2, "002"), (3, "7")]


# -- JVM-boundary cost pins ----------------------------------------------------


@contextmanager
def _py4j_calls():
    """Count py4j client round trips in this process (garbage-collection
    deletes, sent whenever the collector frees a proxy, are left out)."""
    from py4j import clientserver, java_gateway

    calls = []
    saved = []
    for cls in (clientserver.ClientServerConnection,
                java_gateway.GatewayConnection):
        orig = cls.send_command
        saved.append((cls, orig))

        def send_command(conn, command, _orig=orig):
            if not command.startswith("m\nd\n"):
                calls.append(command)
            return _orig(conn, command)

        cls.send_command = send_command
    try:
        yield calls
    finally:
        for cls, orig in saved:
            cls.send_command = orig


def test_lsh_banded_build_py4j_bound(spark):
    base = spark.createDataFrame(
        [(1, ["a b c"])], "doc_id long, shingles array<string>"
    )
    with _py4j_calls() as fast:
        DD.lsh_banded(base, "doc_id", 8, 2)
    with _py4j_calls() as slow:
        _ref_lsh_banded(base, "doc_id", 8, 2)
    assert len(fast) <= 60, len(fast)
    assert len(slow) > 10 * len(fast)  # the cost the parsed build removed


def test_schema_given_read_launches_no_job(spark, tmp_path):
    """Jobs are attributed through a job group set on this thread; the
    inferred read afterwards is the positive control (its schema job
    must show up), and the listener bus delivers events in order, so
    once the control's job is visible any job of the first read would be
    too."""
    table, tracker = _mk_index(tmp_path, "nojob")
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    DX.build_dedup_index(
        docs.where("doc_id < 60"), table, tracker, band_shards=4, doc_shards=4
    )
    state = tracker.current_version(table.name)
    schema = read_version(
        spark, table, state, keep_version_column=True,
        infer_partition_types=False,
    ).schema
    sc = spark.sparkContext
    status = sc.statusTracker()
    try:
        sc.setJobGroup("plan-construction-schema-read", "schema-given read")
        read_version(spark, table, state, schema=schema)
        sc.setJobGroup("plan-construction-inferred-read", "inferred read")
        read_version(spark, table, state, infer_partition_types=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.time() + 30
    while (not status.getJobIdsForGroup("plan-construction-inferred-read")
           and time.time() < deadline):
        time.sleep(0.1)
    assert status.getJobIdsForGroup("plan-construction-inferred-read")
    assert status.getJobIdsForGroup("plan-construction-schema-read") == []

