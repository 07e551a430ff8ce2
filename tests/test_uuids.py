"""UUID kernel goldens — all 13 golden UUIDs from the reference test suite
(smartlogic/service_test.go:48-91,146-315), pinned on the
kernels the KG job runs: the fold's ``pyfold._md5_uuid``/``_factset_uuid``
(the FACTSET goldens also through the fold on Spark) and the native
``uuids.ft_md5_uuid`` Column kernel (used by kg_uuid_tme), plus a random
cross-check of all three against the reference model."""

import random
import string

from smartlogic_concordance_transformer_spark.pyfold import _factset_uuid, _md5_uuid
from smartlogic_concordance_transformer_spark.transform import transform
from smartlogic_concordance_transformer_spark.uuids import ft_md5_uuid, ft_md5_uuid_sql
from tests.reference_model import factset_uuid, md5_uuid

MD5_GOLDENS = {
    "AbCdEfgHiJkLMnOpQrStUvWxYz-0123456789": "e9f4525a-401f-3b23-a68e-e48f314cdce6",
    "ZyXwVuTsRqPoNmLkJiHgFeDcBa-0987654321": "83f63c7e-1641-3c7b-81e4-378ae3c6c2ad",
    "abcdefghijklmnopqrstuvwxyz-0123456789": "e4bc4ac2-0637-3a27-86b1-9589fca6bf2c",
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ-0987654321": "e574b21d-9abc-3d82-a6c0-3e08c85181bf",
    "YzhlNzZkYTctMDJiNy00NTViLTk3NmYtNmJ-jYTE5NDEyM2Yw": "a50ffd61-e9da-3c71-85ad-81ce983bcbf6",
    "TnN0ZWluX0dMX0dCX0VOR19HX0Vzc2V4-R0w=": "3f494231-9dc6-3181-8baa-dc9d1cad730f",
    "http://dbpedia.org/resource/Essex": "9567fbd6-f6f3-34f4-9b31-53856d5428a3",
    "http://sws.geonames.org/2649889/": "ed78ef90-a160-30d0-8a3b-472a966c5664",
    "http://www.wikidata.org/entity/Q23240": "76754d1e-11f6-3d4f-8e3a-59a5b4e6bdcd",
    "http://www.wikidata.org/entity/Q23245": "226ee6c7-8e94-3eb8-8370-c89ee9f9f988",
}
FACTSET_GOLDENS = {
    "012345-E": "949a7e7f-2516-30c0-9123-f866601ffbe4",
    "000D63-E": "8d3aba95-02d9-3802-afc0-b99bb9b1139e",
    "023456-E": "3bc0ab41-c01f-3a0b-aa78-c76438080b52",
    "023411-E": "f777c5af-e0b2-34dc-9102-e346ca2d27aa",
}


def test_python_kernels_match_goldens():
    for k, v in MD5_GOLDENS.items():
        assert _md5_uuid(k) == v
    for k, v in FACTSET_GOLDENS.items():
        assert _factset_uuid(k) == v


def test_spark_kernels_match_goldens(spark):
    df = spark.createDataFrame([(k,) for k in MD5_GOLDENS], "id string").select(
        "id", ft_md5_uuid("id").alias("u")
    )
    assert {r.id: r.u for r in df.collect()} == MD5_GOLDENS
    # FACTSET uuids as the KG job derives them: through the fold on Spark
    payload = (
        '{"@graph":[{"@id":"http://www.ft.com/thing/20db1bd6-59f9-4404-adb5-3165a448f8b0",'
        '"@type":["http://www.ft.com/ontology/Organisation"],'
        '"http://www.ft.com/ontology/factsetIdentifier":['
        + ",".join('{"@value":"%s"}' % k for k in FACTSET_GOLDENS)
        + "]}]}"
    )
    src = spark.createDataFrame(
        [("r", "p", "c", "json", payload)],
        "repo string, path string, commit string, lang string, content string",
    )
    good, _ = transform(src)
    conc = good.first().concordances
    assert {c.authorityValue: c.uuid for c in conc} == FACTSET_GOLDENS


def test_spark_matches_python_on_random_inputs(spark):
    rng = random.Random(42)
    values = [
        "".join(rng.choices(string.ascii_letters + string.digits + "-_=/:.", k=rng.randint(1, 60)))
        for _ in range(500)
    ]
    df = spark.createDataFrame([(v,) for v in values], "id string").select(
        "id", ft_md5_uuid("id").alias("a")
    )
    for r in df.collect():
        assert r.a == md5_uuid(r.id)
    for v in values:
        assert _md5_uuid(v) == md5_uuid(v)
        assert _factset_uuid(v) == factset_uuid(v)


def test_sql_fragment_parity_spark_and_duckdb(spark):
    import duckdb

    frag = ft_md5_uuid_sql("id")
    values = list(MD5_GOLDENS)
    df = spark.createDataFrame([(v,) for v in values], "id string")
    df.createOrReplaceTempView("uuid_in")
    spark_out = {
        r.id: r.u for r in spark.sql(f"select id, {frag} as u from uuid_in").collect()
    }
    con = duckdb.connect()
    con.execute("create table uuid_in(id varchar)")
    con.executemany("insert into uuid_in values (?)", [(v,) for v in values])
    duck_out = dict(con.execute(f"select id, {frag} as u from uuid_in").fetchall())
    for v in values:
        assert spark_out[v] == MD5_GOLDENS[v]
        assert duck_out[v] == MD5_GOLDENS[v]
