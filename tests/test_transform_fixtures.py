"""The reference's full correctness corpus, re-run through the Spark
pipeline: every fixture in tests/fixtures/ becomes one row of the
source_repos table; expected outputs are transcribed from
/root/reference/smartlogic/service_test.go:146-426 and the byte-exact
response goldens in handlers_test.go:70-84.

The 28 payloads are vendored so the gate runs anywhere; they follow the
scenario table and payload schemas A/B in FIXTURES.md. Where the
reference checkout exists, ``test_vendored_fixtures_match_reference``
compares them with the originals byte for byte.

The invariant is per-row sha256 equality of the emitted UPP JSON (per
BASELINE.json input_hint), which pins key order, omitempty behavior, and
the []-never-null empty concordance list."""

import hashlib
import json
import os

import pytest

from smartlogic_concordance_transformer_spark.transform import transform

RES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
# the reference repository's own payloads, where a checkout of it sits
# next to this repository (as ``reference/``)
REFERENCE_RES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "reference",
    "resources",
)
UUID = "20db1bd6-59f9-4404-adb5-3165a448f8b0"


def cid(auth, value, u):
    return {"authority": auth, "authorityValue": value, "uuid": u}


def upp(authority, uuid, concordances):
    # Go json.Marshal: struct field order, compact separators.
    return json.dumps(
        {"authority": authority, "uuid": uuid, "concordances": concordances},
        separators=(",", ":"),
    )


TME = [
    cid("TME", "AbCdEfgHiJkLMnOpQrStUvWxYz-0123456789", "e9f4525a-401f-3b23-a68e-e48f314cdce6"),
    cid("TME", "ZyXwVuTsRqPoNmLkJiHgFeDcBa-0987654321", "83f63c7e-1641-3c7b-81e4-378ae3c6c2ad"),
    cid("TME", "abcdefghijklmnopqrstuvwxyz-0123456789", "e4bc4ac2-0637-3a27-86b1-9589fca6bf2c"),
    cid("TME", "ABCDEFGHIJKLMNOPQRSTUVWXYZ-0987654321", "e574b21d-9abc-3d82-a6c0-3e08c85181bf"),
]
FACTSET = [
    cid("FACTSET", "000D63-E", "8d3aba95-02d9-3802-afc0-b99bb9b1139e"),
    cid("FACTSET", "023456-E", "3bc0ab41-c01f-3a0b-aa78-c76438080b52"),
    cid("FACTSET", "023411-E", "f777c5af-e0b2-34dc-9102-e346ca2d27aa"),
]
ESSEX_TME = cid("TME", "TnN0ZWluX0dMX0dCX0VOR19HX0Vzc2V4-R0w=", "3f494231-9dc6-3181-8baa-dc9d1cad730f")
ESSEX_DBP = cid("DBPedia", "http://dbpedia.org/resource/Essex", "9567fbd6-f6f3-34f4-9b31-53856d5428a3")
ESSEX_GEO = cid("Geonames", "http://sws.geonames.org/2649889/", "ed78ef90-a160-30d0-8a3b-472a966c5664")
ESSEX_WD = cid("Wikidata", "http://www.wikidata.org/entity/Q23240", "76754d1e-11f6-3d4f-8e3a-59a5b4e6bdcd")
ESSEX_WD2 = cid("Wikidata", "http://www.wikidata.org/entity/Q23245", "226ee6c7-8e94-3eb8-8370-c89ee9f9f988")

# fixture -> expected byte-exact UPP JSON (valid) — service_test.go:146-315
VALID = {
    "multipleTmeIds.json": upp("Smartlogic", UUID, TME),
    "multipleFactsetIds.json": upp("Smartlogic", UUID, FACTSET),
    "multipleTmeAndFactsetIds.json": upp("Smartlogic", UUID, TME[:3] + FACTSET),
    "noTmeIds.json": upp("Smartlogic", UUID, []),
    "noFactsetIds.json": upp("Smartlogic", UUID, []),
    "conceptIsMembershipNoConcordance.json": upp("Smartlogic", UUID, []),
    "managedLocationIds.json": upp("ManagedLocation", UUID, [ESSEX_TME, ESSEX_DBP, ESSEX_GEO, ESSEX_WD]),
    "managedLocationDuplicateIds.json": upp("ManagedLocation", UUID, [ESSEX_TME, ESSEX_DBP, ESSEX_GEO, ESSEX_WD]),
    "managedLocationBlankId.json": upp("ManagedLocation", UUID, [ESSEX_TME, ESSEX_DBP, ESSEX_GEO, ESSEX_WD]),
    "managedLocationMutuallyExclusiveFields.json": upp("ManagedLocation", UUID, [TME[1], FACTSET[1]]),
    "editorialBlankId.json": upp("Smartlogic", UUID, [ESSEX_TME]),
    "editorialDuplicateIds.json": upp("Smartlogic", UUID, [ESSEX_TME, ESSEX_GEO, ESSEX_WD]),
    "editorialAndManagedLocationWikidata.json": upp("Smartlogic", UUID, [ESSEX_TME, ESSEX_GEO, ESSEX_WD]),
    "editorialTwoWikidata.json": upp("Smartlogic", UUID, [ESSEX_TME, ESSEX_GEO, ESSEX_WD, ESSEX_WD2]),
    "editorialGeonames.json": upp("Smartlogic", UUID, [ESSEX_TME, ESSEX_GEO, ESSEX_WD]),
}

# fixture -> (status, http_code, error substring) — service_test.go:325-381
QUARANTINE = {
    "missingIdField.json": ("SemanticallyIncorrect", 422, "Missing/invalid @graph field"),
    "invalidTmeListInput.json": ("SyntacticallyIncorrect", 400, "is not a valid TME Id"),
    "invalidIdValue.json": ("SemanticallyIncorrect", 422, "Missing/invalid @id field"),
    "noTypes.json": (
        "SyntacticallyIncorrect",
        400,
        "bad Request: Type has not been set for concept: 20db1bd6-59f9-4404-adb5-3165a448f8b0)",
    ),
    "conceptIsMembership.json": ("SyntacticallyIncorrect", 400, "bad Request: Concept type Membership does not support concordance"),
    "conceptIsMembershipRole.json": ("SyntacticallyIncorrect", 400, "bad Request: Concept type MembershipRole does not support concordance"),
    "invalidTmeId.json": ("SyntacticallyIncorrect", 400, "is not a valid TME Id"),
    "tmeGeneratedUuidEqualConceptUuid.json": ("SyntacticallyIncorrect", 400, "smartlogic uuid that is the same as the uuid generated from the TME id"),
    "duplicateTmeIds.json": ("SyntacticallyIncorrect", 400, "contains duplicate TME id values"),
    "duplicateFactsetIds.json": ("SyntacticallyIncorrect", 400, "contains duplicate FACTSET id values"),
    "invalidFactsetId.json": ("SyntacticallyIncorrect", 400, "is not a valid FACTSET Id"),
    "notAllowedType.json": ("SemanticallyIncorrect", 422, "concept type not allowed"),
    "multipleGraphsInList.json": ("SemanticallyIncorrect", 422, "More than 1 concept in smartlogic concept payload"),
}

# Byte-exact HTTP response goldens (handlers_test.go:70,77,84).
HANDLER_GOLDENS = {
    "multipleTmeIds.json": '{"authority":"Smartlogic","uuid":"20db1bd6-59f9-4404-adb5-3165a448f8b0","concordances":[{"authority":"TME","authorityValue":"AbCdEfgHiJkLMnOpQrStUvWxYz-0123456789","uuid":"e9f4525a-401f-3b23-a68e-e48f314cdce6"},{"authority":"TME","authorityValue":"ZyXwVuTsRqPoNmLkJiHgFeDcBa-0987654321","uuid":"83f63c7e-1641-3c7b-81e4-378ae3c6c2ad"},{"authority":"TME","authorityValue":"abcdefghijklmnopqrstuvwxyz-0123456789","uuid":"e4bc4ac2-0637-3a27-86b1-9589fca6bf2c"},{"authority":"TME","authorityValue":"ABCDEFGHIJKLMNOPQRSTUVWXYZ-0987654321","uuid":"e574b21d-9abc-3d82-a6c0-3e08c85181bf"}]}',
    "multipleFactsetIds.json": '{"authority":"Smartlogic","uuid":"20db1bd6-59f9-4404-adb5-3165a448f8b0","concordances":[{"authority":"FACTSET","authorityValue":"000D63-E","uuid":"8d3aba95-02d9-3802-afc0-b99bb9b1139e"},{"authority":"FACTSET","authorityValue":"023456-E","uuid":"3bc0ab41-c01f-3a0b-aa78-c76438080b52"},{"authority":"FACTSET","authorityValue":"023411-E","uuid":"f777c5af-e0b2-34dc-9102-e346ca2d27aa"}]}',
    "multipleTmeAndFactsetIds.json": '{"authority":"Smartlogic","uuid":"20db1bd6-59f9-4404-adb5-3165a448f8b0","concordances":[{"authority":"TME","authorityValue":"AbCdEfgHiJkLMnOpQrStUvWxYz-0123456789","uuid":"e9f4525a-401f-3b23-a68e-e48f314cdce6"},{"authority":"TME","authorityValue":"ZyXwVuTsRqPoNmLkJiHgFeDcBa-0987654321","uuid":"83f63c7e-1641-3c7b-81e4-378ae3c6c2ad"},{"authority":"TME","authorityValue":"abcdefghijklmnopqrstuvwxyz-0123456789","uuid":"e4bc4ac2-0637-3a27-86b1-9589fca6bf2c"},{"authority":"FACTSET","authorityValue":"000D63-E","uuid":"8d3aba95-02d9-3802-afc0-b99bb9b1139e"},{"authority":"FACTSET","authorityValue":"023456-E","uuid":"3bc0ab41-c01f-3a0b-aa78-c76438080b52"},{"authority":"FACTSET","authorityValue":"023411-E","uuid":"f777c5af-e0b2-34dc-9102-e346ca2d27aa"}]}',
}


@pytest.fixture(scope="module")
def results(spark):
    rows = [
        ("ft/fixtures", name, "0" * 40, "json", open(os.path.join(RES, name)).read())
        for name in sorted(os.listdir(RES))
    ]
    df = spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string")
    good, quar = transform(df, carry=("path",))
    good_by_path = {r.path: r for r in good.collect()}
    quar_by_path = {r.path: r for r in quar.collect()}
    return good_by_path, quar_by_path


@pytest.mark.skipif(not os.path.isdir(REFERENCE_RES), reason="reference checkout not present")
def test_vendored_fixtures_match_reference():
    names = sorted(os.listdir(RES))
    assert names == sorted(os.listdir(REFERENCE_RES))
    for name in names:
        with open(os.path.join(RES, name), "rb") as a, open(os.path.join(REFERENCE_RES, name), "rb") as b:
            assert a.read() == b.read(), name


def test_every_fixture_routed_exactly_once(results):
    good, quar = results
    assert set(good) | set(quar) == set(os.listdir(RES))
    assert not (set(good) & set(quar))
    assert set(good) == set(VALID)
    assert set(quar) == set(QUARANTINE)


@pytest.mark.parametrize("name", sorted(VALID))
def test_valid_fixture_byte_exact(results, name):
    good, _ = results
    expected = VALID[name]
    actual = good[name].upp_json
    assert actual == expected
    assert hashlib.sha256(actual.encode()).hexdigest() == hashlib.sha256(expected.encode()).hexdigest()


@pytest.mark.parametrize("name", sorted(HANDLER_GOLDENS))
def test_handler_response_goldens(results, name):
    good, _ = results
    assert good[name].upp_json == HANDLER_GOLDENS[name]


@pytest.mark.parametrize("name", sorted(QUARANTINE))
def test_quarantine_fixture(results, name):
    _, quar = results
    status, http_code, substr = QUARANTINE[name]
    row = quar[name]
    assert row.status == status
    assert row.http_code == http_code
    assert substr in row.error


def test_tombstone_ops(results):
    good, _ = results
    for name in ("noTmeIds.json", "noFactsetIds.json", "conceptIsMembershipNoConcordance.json"):
        assert good[name].op == "delete"
        assert '"concordances":[]' in good[name].upp_json
    assert good["multipleTmeIds.json"].op == "upsert"


def test_triple_precision_recall(results):
    """Aggregate (subj, pred, obj) triple P/R vs the expected corpus — the
    BASELINE.json headline metric (target >= 0.95; this build should be 1.0)."""
    good, _ = results
    expected_triples, actual_triples = set(), set()
    for name, exp_json in VALID.items():
        exp = json.loads(exp_json)
        for c in exp["concordances"]:
            expected_triples.add((exp["uuid"], "concordsWith", c["uuid"]))
            expected_triples.add((c["uuid"], "identifiesAs", f'{c["authority"]}:{c["authorityValue"]}'))
        act = json.loads(good[name].upp_json)
        for c in act["concordances"]:
            actual_triples.add((act["uuid"], "concordsWith", c["uuid"]))
            actual_triples.add((c["uuid"], "identifiesAs", f'{c["authority"]}:{c["authorityValue"]}'))
    tp = len(expected_triples & actual_triples)
    precision = tp / len(actual_triples)
    recall = tp / len(expected_triples)
    assert precision == 1.0
    assert recall == 1.0
