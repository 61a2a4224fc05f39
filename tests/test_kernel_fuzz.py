"""Seeded differential fuzz: kernel.parse vs the EXECUTED JS reference.

The 140 transcribed fixtures (test_kernel_parity.py) pin the published test
surface; this fuzz pins the rest of the behavior space. A seeded generator
composes inputs from the quirk vocabulary (glued commas, fused units,
``Shop N,``, ZIP+4, ``X2000``, direction words, ``TERR``-suffix tokens,
no-street words, split-street commas, multi-number strings, case/whitespace
noise) and every generated input is parsed by BOTH the Python kernel and
``/root/reference`` executed under Node (cog/extend stubbed with a shallow
merge, the only runtime dependency — reference ``package.json:14-16``).
All eight output fields must match exactly, both locales.

Deterministic (seed 1307) so a divergence is reproducible by case index.
Skipped when node is unavailable. ``test_fuzz_kernel_matches_golden`` runs
the same inputs against the outputs pinned in ``parse_golden.json.gz``
(see ``parse_golden.py``), so parity is also gated where the reference
cannot run.
"""

import json
import os
import random
import shutil
import subprocess

import pytest

from addressit_spark.kernel import parse

import parse_golden

NODE = shutil.which("node")

_EXTEND_STUB = """
module.exports = function(target) {
  target = target || {};
  for (var i = 1; i < arguments.length; i++) {
    var src = arguments[i];
    if (!src) continue;
    for (var k in src) if (Object.prototype.hasOwnProperty.call(src, k))
      target[k] = src[k];
  }
  return target;
};
"""

_PROBE = """
const rl = require('readline').createInterface({input: process.stdin});
rl.on('line', (line) => {
  const req = JSON.parse(line);
  const base = require('/root/reference/locale/' + req.locale + '.js');
  const a = base(req.input);
  const s = (v) => (v === undefined || v === null) ? null : String(v);
  console.log(JSON.stringify({
    unit: s(a.unit), number: s(a.number), street: s(a.street),
    state: s(a.state), country: s(a.country), postalcode: s(a.postalcode),
    regions: a.regions || [], text: s(a.text),
  }));
});
"""

UNITS = [
    "Shop 8,", "Shop 22,", "APT 12", "FLAT 2", "UNIT 7", "#950", "#3",
    "Apt. 4", "U2", "",
]
NUMBERS = ["431", "5", "10", "1404", "5 10", "8/431", "10/15/20", "12-14", ""]
STREET_NAMES = [
    "St Kilda", "Main", "Queen", "Victoria", "Punt", "Robinson", "Old Northern",
    "BROADWAY", "Soldiers Point", "The Horsley", "Grand Junction",
    "St. Kilda", "Forty-Second", "O'Connell", "Smith & Jones", "Mt Druitt", "",
]
STREET_TYPES = [
    "Rd", "St", "Street", "Ave", "Avenue", "TERR", "Lane", "Dr", "Pde",
    "Rd.", "St.", "Hwy", "Cct", "",
]
DIRECTIONS = ["West", "N", "East,", "South", "N.", ""]
LOCALITIES = [
    "Melbourne", "Sydney", "Aspley", "Cremorne", "FRENCHS FOREST", "New York,",
    "York,", "Salamander Bay", "St. Leonards", "(Inner) City", "",
]
TAILS_US = ["NY", "NY 10010", "CA 90210-1234", "TEXAS", "USA", "10010-1234", ""]
TAILS_AU = ["VIC", "NSW 2100", "QLD", "2000", "X2000", "BOOM", "909", ""]


def _gen(rng: random.Random, locale: str) -> str:
    tails = TAILS_US if locale == "en-US" else TAILS_AU
    parts = [
        rng.choice(UNITS),
        rng.choice(NUMBERS),
        rng.choice(STREET_NAMES),
        rng.choice(STREET_TYPES),
        rng.choice(DIRECTIONS),
        rng.choice(LOCALITIES),
        rng.choice(tails),
    ]
    s = " ".join(p for p in parts if p)
    if rng.random() < 0.15:
        s = s.replace(" ", "  ", 1)
    if rng.random() < 0.15:
        s = s.lower()
    elif rng.random() < 0.1:
        s = s.upper()
    if rng.random() < 0.1 and s:
        s = s + ","
    return s or "X"


def _fuzz_inputs(locale: str) -> list:
    rng = random.Random(1307)
    return [_gen(rng, locale) for _ in range(1000)]


def _run_reference(cases):
    # fresh dir per invocation: concurrent runs (or a stale stub from an
    # older run at a fixed path) can neither race nor mask stub changes
    import shutil
    import tempfile

    probe_dir = tempfile.mkdtemp(prefix="fuzz_probe_")
    try:
        os.makedirs(probe_dir + "/node_modules/cog", exist_ok=True)
        with open(probe_dir + "/node_modules/cog/extend.js", "w") as f:
            f.write(_EXTEND_STUB)
        with open(probe_dir + "/diff.js", "w") as f:
            f.write(_PROBE)
        env = dict(os.environ, NODE_PATH=probe_dir + "/node_modules")
        inp = "\n".join(json.dumps(c) for c in cases) + "\n"
        out = subprocess.run(
            [NODE, probe_dir + "/diff.js"], input=inp, capture_output=True,
            text=True, env=env, check=True,
        )
        return [json.loads(l) for l in out.stdout.splitlines()]
    finally:
        shutil.rmtree(probe_dir, ignore_errors=True)


FIELDS = ("unit", "number", "street", "state", "country", "postalcode", "regions", "text")


@pytest.mark.skipif(NODE is None, reason="node not installed")
@pytest.mark.parametrize("locale", ["en-US", "en-AU"])
def test_fuzz_kernel_matches_executed_reference(locale):
    inputs = _fuzz_inputs(locale)
    want = _run_reference([{"input": t, "locale": locale} for t in inputs])
    mismatches = []
    for i, (t, w) in enumerate(zip(inputs, want)):
        got = parse(t, locale=locale)
        g = {k: got[k] if k != "regions" else list(got[k]) for k in FIELDS}
        w = {k: w[k] if k != "regions" else list(w[k]) for k in FIELDS}
        if g != w:
            mismatches.append((i, t, g, w))
    assert not mismatches, f"{len(mismatches)} divergences; first: {mismatches[0]}"


@pytest.mark.parametrize("locale", ["en-US", "en-AU"])
def test_fuzz_kernel_matches_golden(locale):
    inputs = _fuzz_inputs(locale)
    golden = parse_golden.load()[locale]
    assert [row[0] for row in golden] == inputs  # the generator is unchanged
    mismatches = []
    for i, (t, row) in enumerate(zip(inputs, golden)):
        got = parse_golden.fields(parse(t, locale=locale))
        if got != row[1:]:
            mismatches.append((i, t, got, row[1:]))
    assert not mismatches, f"{len(mismatches)} divergences; first: {mismatches[0]}"
