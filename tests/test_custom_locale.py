"""Caller-supplied locale opts (the reference's ``extend`` overlay).

The reference merges arbitrary caller opts over the locale defaults —
``parser(input, extend({defaults…}, opts))`` (/root/reference/locale/en-US.js:4-6,
/root/reference/index.js:48-54) with caller-wins shallow-merge semantics and
``if (opts && opts.state)`` falsy-disable guards (/root/reference/parsers/en.js:115-125).
These tests check :func:`addressit_spark.kernel.make_locale` /
``make_parse_udf(opts_dict)`` against the *executed* JS reference run with the
identical opts (Node v20 + a 6-line cog/extend stub).
"""

import json
import os
import random
import shutil
import subprocess

import pytest

from addressit_spark.kernel import make_locale, parse

import parse_golden

NODE = shutil.which("node")

# A custom overlay: AU-flavoured state map (the stock en-AU locale has NO
# states) + a 4-digit-anchored postcode stricter than the stock AU one.
CUSTOM_STATE = {
    "NSW": r"(^new\ssouth\swales|^NSW$)",
    "VIC": r"(^victoria|^VIC$)",
    "QLD": r"(^queensland|^QLD$)",
    "WA": r"(^western\saustralia|^WA$)",
}
CUSTOM_POSTCODE = r"(^\d{4}$)"

INPUTS = [
    "123 Smith St Sydney New South Wales 2000",
    "5/60 Beach Road Perth Western Australia 6000",
    "Shop 4, 22 George St Brisbane QLD 4000",
    "17 Flinders Lane Melbourne VIC 3000",
    "42 Nowhere Blvd Springfield 90210",  # 5-digit: custom postcode must NOT fire
    "9 Short St NSW",  # first-token guard interplay
    "WA",  # single short token, first-token guard
    "1 Main Street Victoria",
    "Unit 7 88 Queensland Terrace Cairns 4870",
    "300 New South Wales Highway 2145",
]

_EXTEND_STUB = """
module.exports = function(target) {
  for (var i = 1; i < arguments.length; i++) {
    var src = arguments[i];
    if (!src) continue;
    for (var k in src) if (Object.prototype.hasOwnProperty.call(src, k)) target[k] = src[k];
  }
  return target;
};
"""

_PROBE = """
const readline = require('readline');
const rl = readline.createInterface({input: process.stdin, terminal: false});
rl.on('line', (line) => {
  const req = JSON.parse(line);
  const base = require('/root/reference/locale/' + (req.base || 'en-US') + '.js');
  const opts = {};
  for (const f of ['state', 'country']) {
    if (f in req) {
      if (req[f] === null) { opts[f] = null; }
      else {
        opts[f] = {};
        for (const k of Object.keys(req[f])) opts[f][k] = new RegExp(req[f][k], 'i');
      }
    }
  }
  if ('postalcode' in req) {
    opts.rePostalCode = req.postalcode === null ? null : new RegExp(req.postalcode);
  }
  const a = base(req.input, opts);
  const s = (v) => (v === undefined || v === null) ? null : String(v);
  console.log(JSON.stringify({
    unit: s(a.unit), number: s(a.number), street: s(a.street),
    state: s(a.state), country: s(a.country), postalcode: s(a.postalcode),
    regions: a.regions || [], text: s(a.text),
  }));
});
"""


def _run_reference(requests):
    # fresh dir per invocation: concurrent runs (or a stale stub from an
    # older run at a fixed path) can neither race nor mask stub changes
    import shutil
    import tempfile

    probe_dir = tempfile.mkdtemp(prefix="locale_probe_")
    try:
        os.makedirs(probe_dir + "/node_modules/cog", exist_ok=True)
        with open(probe_dir + "/node_modules/cog/extend.js", "w") as f:
            f.write(_EXTEND_STUB)
        with open(probe_dir + "/diff.js", "w") as f:
            f.write(_PROBE)
        env = dict(os.environ, NODE_PATH=probe_dir + "/node_modules")
        inp = "\n".join(json.dumps(r) for r in requests) + "\n"
        out = subprocess.run(
            [NODE, probe_dir + "/diff.js"], input=inp, capture_output=True,
            text=True, env=env, check=True,
        )
        return [json.loads(l) for l in out.stdout.splitlines()]
    finally:
        shutil.rmtree(probe_dir, ignore_errors=True)


def _norm(rec):
    return {
        k: (None if rec[k] is None else rec[k]) if k != "regions" else list(rec[k])
        for k in ("unit", "number", "street", "state", "country", "postalcode",
                  "regions", "text")
    }


@pytest.mark.skipif(NODE is None, reason="node not installed")
def test_custom_opts_match_executed_reference():
    """Custom state map + postcode regex over en-AU == executed JS with same opts."""
    loc = make_locale("en-AU", state=CUSTOM_STATE, postalcode=CUSTOM_POSTCODE)
    reqs = [
        {"base": "en-AU", "input": t, "state": CUSTOM_STATE,
         "postalcode": CUSTOM_POSTCODE}
        for t in INPUTS
    ]
    want = _run_reference(reqs)
    for t, w in zip(INPUTS, want):
        got = _norm(parse(t, loc))
        assert got == _norm(w), (t, got, w)


@pytest.mark.skipif(NODE is None, reason="node not installed")
def test_disabling_extractors_matches_reference():
    """Falsy opts members disable extraction in both implementations."""
    loc = make_locale("en-US", state=None, postalcode=None)
    inputs = [
        "500 Main Street Springfield Illinois 62701",
        "77 Sunset Strip Hollywood CA 90028",
    ]
    reqs = [
        {"base": "en-US", "input": t, "state": None, "postalcode": None}
        for t in inputs
    ]
    want = _run_reference(reqs)
    for t, w in zip(inputs, want):
        got = _norm(parse(t, loc))
        assert got == _norm(w), (t, got, w)
        assert got["state"] is None and got["postalcode"] is None


@pytest.mark.skipif(NODE is None, reason="node not installed")
def test_country_override_matches_reference():
    loc = make_locale("en-US", country={"CAN": r"(^CANADA|^C\.?A\.?N?$)"})
    inputs = ["12 Maple Ave Toronto Canada", "12 Maple Ave Toronto USA"]
    reqs = [
        {"base": "en-US", "input": t,
         "country": {"CAN": r"(^CANADA|^C\.?A\.?N?$)"}}
        for t in inputs
    ]
    want = _run_reference(reqs)
    for t, w in zip(inputs, want):
        assert _norm(parse(t, loc)) == _norm(w), t


def test_make_locale_inherits_base_lexicons():
    loc = make_locale("en-US")
    rec = parse("500 Main Street Springfield Illinois 62701", loc)
    assert rec["state"] == "IL" and rec["postalcode"] == "62701"


def test_parse_udf_accepts_locale_and_opts_dict(spark):
    """The UDF factory takes a Locale / opts dict and pickles it to workers."""
    from pyspark.sql import functions as F

    from addressit_spark.parse_stage import make_parse_udf

    df = spark.createDataFrame(
        [("123 Smith St Sydney New South Wales 2000",),
         ("17 Flinders Lane Melbourne VIC 3000",)],
        ["input"],
    )
    udf = make_parse_udf(
        {"base": "en-AU", "state": CUSTOM_STATE, "postalcode": CUSTOM_POSTCODE}
    )
    rows = {
        r["input"]: r
        for r in df.select("input", udf(F.col("input")).alias("a"))
        .select("input", "a.state", "a.postalcode", "a.street")
        .collect()
    }
    r1 = rows["123 Smith St Sydney New South Wales 2000"]
    assert r1["state"] == "NSW" and r1["postalcode"] == "2000"
    r2 = rows["17 Flinders Lane Melbourne VIC 3000"]
    assert r2["state"] == "VIC" and r2["postalcode"] == "3000"


# ---------------------------------------------------------------------------
# differential fuzz over RANDOM overlays (round-4: locks the cog/extend
# closure against drift — every case runs the executed JS reference with the
# identical opts and must match field-for-field)
# ---------------------------------------------------------------------------

_STATE_POOL = [
    ("NSW", r"(^new\ssouth\swales|^NSW$)"),
    ("VIC", r"(^victoria|^VIC$)"),
    ("QLD", r"(^queensland|^QLD$)"),
    ("WA", r"(^western\saustralia|^WA$)"),
    ("SA", r"(^south\saustralia|^S\.?A\.?$)"),
    ("TX", r"(^texas|^TX$)"),
    ("CA", r"(^california|^C\.?A\.?$)"),
    ("ND", r"(^north\sdakota|^N\.?D\.?$)"),
]

_COUNTRY_POOL = [
    {"CAN": r"(^CANADA|^C\.?A\.?N?$)"},
    {"NZL": r"(^NEW\sZEALAND|^N\.?Z\.?$)"},
    {"USA": r"(^USA$|^UNITED\sSTATES)"},
]

_POSTCODE_POOL = [r"(^\d{4}$)", r"(^\d{5}$)", r"(^\d{5}-\d{4}$|^\d{5}$)"]

_FUZZ_STREETS = ["Main", "Beach", "George", "Flinders", "Smith", "St Kilda",
                 "Queensland", "Dakota", "Short"]
_FUZZ_TYPES = ["St", "Street", "Rd", "Road", "Ave", "Lane", "Blvd", "Terrace"]
_FUZZ_TAILS = [
    "Sydney New South Wales 2000", "Perth Western Australia 6000",
    "Brisbane QLD 4000", "Melbourne VIC 3000", "Springfield 90210",
    "Austin Texas 73301", "Fargo North Dakota 58102", "Toronto Canada",
    "Wellington New Zealand", "Cairns 4870", "SA 5000", "NSW", "CA",
    "victoria", "N.D. 58102", "90210-1234", "", "USA", "C.A.N",
]


def _gen_overlay(rng):
    """Random make_locale kwargs + the matching probe request fields."""
    kwargs, req = {}, {}
    base = rng.choice(["en-US", "en-AU"])
    roll = rng.random()
    if roll < 0.15:
        kwargs["state"] = None
        req["state"] = None
    elif roll < 0.75:
        picks = rng.sample(_STATE_POOL, rng.randrange(1, 5))
        kwargs["state"] = dict(picks)
        req["state"] = dict(picks)
    roll = rng.random()
    if roll < 0.15:
        kwargs["postalcode"] = None
        req["postalcode"] = None
    elif roll < 0.6:
        src = rng.choice(_POSTCODE_POOL)
        kwargs["postalcode"] = src
        req["postalcode"] = src
    roll = rng.random()
    if roll < 0.1:
        kwargs["country"] = None
        req["country"] = None
    elif roll < 0.5:
        c = rng.choice(_COUNTRY_POOL)
        kwargs["country"] = dict(c)
        req["country"] = dict(c)
    return base, kwargs, req


def _gen_input(rng):
    parts = []
    if rng.random() < 0.3:
        parts.append(rng.choice(["Shop 4,", "Unit 7", "Flat 2", "#12", "5/60"]))
    if rng.random() < 0.8:
        parts.append(str(rng.randrange(1, 500)))
    parts.append(rng.choice(_FUZZ_STREETS))
    if rng.random() < 0.85:
        parts.append(rng.choice(_FUZZ_TYPES))
    tail = rng.choice(_FUZZ_TAILS)
    if tail:
        parts.append(tail)
    s = " ".join(parts)
    if rng.random() < 0.1:
        s = s.lower()
    elif rng.random() < 0.1:
        s = s.upper()
    if rng.random() < 0.1:
        s = s + ","
    return s or "X"


def _overlay_cases():
    """500 seeded ``(base, make_locale kwargs, probe request, input)``."""
    rng = random.Random(40413)
    cases = []
    for _ in range(500):
        base, kwargs, req = _gen_overlay(rng)
        text = _gen_input(rng)
        cases.append((base, kwargs, dict(req, base=base, input=text), text))
    return cases


@pytest.mark.skipif(NODE is None, reason="node not installed")
def test_fuzz_random_overlays_match_executed_reference():
    """500 random (overlay, input) pairs: custom state maps, falsy disables,
    country overrides, custom postcodes — kernel output must equal the
    executed reference given the byte-identical opts."""
    cases = _overlay_cases()
    want = _run_reference([c[2] for c in cases])
    mismatches = []
    for (base, kwargs, _req, text), w in zip(cases, want):
        loc = make_locale(base, **kwargs)
        got = _norm(parse(text, loc))
        if got != _norm(w):
            mismatches.append((base, kwargs, text, got, _norm(w)))
    assert not mismatches, (
        f"{len(mismatches)} divergences; first: {mismatches[0]}"
    )


def test_fuzz_random_overlays_match_golden():
    """The same 500 (overlay, input) cases against the kernel outputs pinned
    in ``parse_golden.json.gz`` — the overlay parity gate that runs without
    node or the reference checkout."""
    cases = _overlay_cases()
    golden = parse_golden.load()["overlay"]
    assert [row[0] for row in golden] == [c[3] for c in cases]
    mismatches = []
    for (base, kwargs, _req, text), row in zip(cases, golden):
        got = parse_golden.fields(parse(text, make_locale(base, **kwargs)))
        if got != row[1:]:
            mismatches.append((base, kwargs, text, got, row[1:]))
    assert not mismatches, (
        f"{len(mismatches)} divergences; first: {mismatches[0]}"
    )
