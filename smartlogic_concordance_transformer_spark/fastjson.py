"""Fast JSON decode for the hot parse path.

``orjson`` (Rust, ~3x faster than stdlib ``json.loads`` on the small
Smartlogic payloads this pipeline parses — measured 0.78 vs 2.68 us on the
bench payload, ~16% of the whole per-doc fold) when importable, stdlib
otherwise. Import-try gated per the environment rules: nothing outside the
stdlib is assumed present.

The fold in ``pyfold.py`` imports ``loads`` from here. The
malformed-payload quarantine error embeds the decoder's exception text,
so that text depends on which library is installed.

Semantics alignment: orjson rejects NaN/Infinity literals and parses
integers beyond the 64-bit range as float64 (both behaviors match Go
``encoding/json`` — the reference decoder, service.go:79 — more closely
than stdlib's accept-NaN / arbitrary-precision-int). So that
valid/quarantine ROUTING and parsed values cannot depend on which
library happens to be installed, the stdlib fallback mirrors both via
``parse_constant``/``parse_int`` hooks (verified in tests). The
exception TEXT still differs between libraries, which is why tests
compare JSON parse errors by status only.
"""

from __future__ import annotations

try:  # pragma: no cover - which branch runs depends on the environment
    from orjson import loads
except ImportError:  # pragma: no cover
    import json as _json

    def _reject_constant(name: str):
        raise ValueError(f"{name} is not valid JSON")

    def _int_like_orjson(s: str):
        v = int(s)
        if -(1 << 63) <= v < (1 << 64):
            return v
        return float(s)  # orjson (and Go) overflow to float64

    def loads(s):  # type: ignore[misc]
        return _json.loads(
            s, parse_constant=_reject_constant, parse_int=_int_like_orjson
        )

__all__ = ["loads"]
