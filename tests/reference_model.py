"""Pure-Python executable model of the reference's convertToUppConcordance
(/root/reference/smartlogic/service.go:96-183) — written from the SURVEY
semantics, used as the oracle for the Spark pipeline's fold (property
tests, the generated-corpus check, and the UUID kernels' random-input
parity).
"""

from __future__ import annotations

import hashlib
import json
import re

UUID_RE = re.compile(r"^[\da-f]{8}-[\da-f]{4}-[\da-f]{4}-[\da-f]{4}-[\da-f]{12}$")
THING = "http://www.ft.com/thing/"
ML = "http://www.ft.com/ontology/managedlocation/"
ED_NS = "http://www.ft.com/ontology/"

_VAR = "89ab89ab89ab89ab"


def _surgery(h: str) -> str:
    h = h[:12] + "3" + h[13:16] + _VAR[int(h[16], 16)] + h[17:]
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def md5_uuid(v: str) -> str:
    return _surgery(hashlib.md5(v.encode()).hexdigest())


def factset_uuid(v: str) -> str:
    return _surgery(hashlib.md5(hashlib.md5(v.encode()).digest()).hexdigest())


PARSE = "parse"  # stands in for the decoder's text; compared by status only


def convert(payload: str):
    """Returns ("valid", upp_json) or (status, error). ``error`` is the
    reference's full error string (service.go), except for payloads Go's
    decoder rejects, where it is ``PARSE``: the decoder's text depends on
    the JSON library, so those compare by status only."""
    syn, sem = "SyntacticallyIncorrect", "SemanticallyIncorrect"
    try:
        doc = json.loads(payload)
        if not isinstance(doc, dict):
            raise ValueError("not an object")
    except Exception:
        return syn, PARSE
    graph = doc.get("@graph")
    if not isinstance(graph, list):
        graph = []
    if len(graph) == 0:
        return sem, "invalid Request Json: Missing/invalid @graph field"
    if len(graph) > 1:
        return sem, (
            "invalid Request Json: More than 1 concept in smartlogic concept "
            "payload which is currently not supported"
        )
    node = graph[0]
    if not isinstance(node, dict):
        return syn, PARSE
    cid = node.get("@id")
    if not isinstance(cid, str):
        cid = ""

    if cid.startswith(THING) and UUID_RE.match(cid[len(THING):]):
        uuid, authority = cid[len(THING):], "Smartlogic"
    elif cid.startswith(ML) and UUID_RE.match(cid[len(ML):]):
        uuid, authority = cid[len(ML):], "ManagedLocation"
    else:
        return sem, "invalid Request Json: Missing/invalid @id field"

    types = node.get("@type")
    if isinstance(types, str):
        types = [types]
    if not isinstance(types, list) or not types:
        return syn, f"bad Request: Type has not been set for concept: {uuid})"
    if types[0] == "skos:Concept":
        return sem, "concept type not allowed"
    short = str(types[0]).rsplit("/", 1)[-1]

    is_ml = "managedlocation" in cid
    ns = ML if is_ml else ED_NS

    def vals(key):
        raw = node.get(key)
        if raw is None:
            return []
        if not isinstance(raw, list) or not all(isinstance(i, dict) for i in raw):
            raise ValueError(key)
        return ["" if i.get("@value") is None else str(i.get("@value")) for i in raw]

    try:
        if is_ml:
            tme = vals(ns + "TMEIdentifier")
            factset = vals(ns + "factsetIdentifier")
            dbp = vals(ns + "dbpediaId")
            geo = vals(ns + "geonamesId")
            wd = vals(ns + "wikidataId")
        else:
            tme = vals(ns + "TMEIdentifier")
            factset = vals(ns + "factsetIdentifier")
            dbp = []  # editorial has no dbpedia field (model.go:117-119)
            geo = vals(ns + "geonamesIdentifier")
            wd = vals(ns + "wikidataIdentifier")
    except ValueError:
        return syn, PARSE  # Go's unmarshal rejects the id list

    if short in ("Membership", "MembershipRole") and tme:
        return syn, f"bad Request: Concept type {short} does not support concordance"

    conc = []

    def seen(u):
        return any(c["uuid"] == u for c in conc)

    for auth, ids, valid, derive in (
        ("TME", tme, _tme_ok, md5_uuid),
        ("FACTSET", factset, _factset_ok, factset_uuid),
    ):
        for v in ids:
            ok = valid(v)
            u = derive(v) if ok else ""
            if u == uuid:
                return syn, (
                    "bad Request: Payload from smartlogic has a smartlogic uuid that "
                    f"is the same as the uuid generated from the {auth} id"
                )
            if not ok:
                return syn, f"Bad Request: Concordance id {v} is not a valid {auth} Id"
            if seen(u):
                return syn, f"bad Request: Payload from smartlogic contains duplicate {auth} id values"
            conc.append({"authority": auth, "authorityValue": v, "uuid": u})
    for auth, ids in (("DBPedia", dbp), ("Geonames", geo), ("Wikidata", wd)):
        for v in ids:
            if not v.strip():
                continue  # blank skipped (service.go:255-258)
            u = md5_uuid(v)
            if u == uuid:
                return syn, (
                    "bad Request: Payload from Smartlogic has a Smartlogic uuid that "
                    f"is the same as the uuid generated from {auth} id"
                )
            if seen(u):
                continue  # location dups skipped, keep first (service.go:266-269)
            conc.append({"authority": auth, "authorityValue": v, "uuid": u})

    return "valid", json.dumps(
        {"authority": authority, "uuid": uuid, "concordances": conc},
        separators=(",", ":"),
        ensure_ascii=False,
    )


def _tme_ok(v: str) -> bool:
    parts = v.split("-")  # exactly two non-empty parts (service.go:293-299)
    return len(parts) == 2 and all(parts)


def _factset_ok(v: str) -> bool:
    return len(v) == 8 and v[0] == "0" and v[6:8] == "-E"  # service.go:301-304
