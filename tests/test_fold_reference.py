"""The production fold (``transform``) against the pure-Python reference
model on generated data: every valid document's ``upp_json`` must match
byte for byte, and every quarantined document must carry the model's
status and full error text. JSON parse errors compare by status only —
their text is the decoder's (see ``fastjson.py``)."""

from smartlogic_concordance_transformer_spark.gen import generate_source_repos
from smartlogic_concordance_transformer_spark.transform import transform
from tests.reference_model import PARSE, convert


def _check_against_model(df):
    contents = {r.path: r.content for r in df.select("path", "content").collect()}
    good, quar = transform(df, carry=("path",))
    got = {r.path: ("valid", r.upp_json) for r in good.collect()}
    for r in quar.collect():
        assert r.path not in got, r.path
        got[r.path] = (r.status, r.error)
    assert set(got) == set(contents)
    for path, content in contents.items():
        status, expected = convert(content)
        g_status, g_val = got[path]
        assert g_status == status, (path, got[path], (status, expected))
        if expected != PARSE:
            assert g_val == expected, (path, g_val, expected)
    return got


def test_fold_matches_reference_on_generated_corpus(spark):
    got = _check_against_model(generate_source_repos(spark, 3000, seed=123))
    statuses = {s for s, _ in got.values()}
    # the corpus exercises both outcomes, so the comparison is not vacuous
    assert {"valid", "SyntacticallyIncorrect", "SemanticallyIncorrect"} <= statuses


def test_fold_matches_reference_on_unicode(spark):
    payload = (
        '{"@graph":[{"@id":"http://www.ft.com/thing/20db1bd6-59f9-4404-adb5-3165a448f8b0",'
        '"@type":["http://www.ft.com/ontology/Brand"],'
        '"http://www.ft.com/ontology/TMEIdentifier":[{"@value":"éüñ-tæx"}],'
        '"http://www.ft.com/ontology/wikidataIdentifier":[{"@value":"http://w.org/中文"}]}]}'
    )
    df = spark.createDataFrame(
        [("r", "p0", "c", "json", payload)],
        "repo string, path string, commit string, lang string, content string",
    )
    got = _check_against_model(df)
    assert "éüñ" in got["p0"][1]  # raw UTF-8, no \u escapes
