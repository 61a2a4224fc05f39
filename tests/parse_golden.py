"""Pinned ``kernel.parse`` outputs for the seeded fuzz inputs.

``parse_golden.json.gz`` holds one row per input that the fuzz generators
produce: seed 1307 × 1,000 per locale (``test_kernel_fuzz.py``) and the
overlay seed 40413 × 500 (``test_custom_locale.py``). A row is the input
text followed by the eight output fields in ``FIELDS`` order. The
``*_matches_golden`` tests compare the kernel with these rows, so kernel
parity is gated on every host, with or without Node and the JS reference.

The rows pin the kernel's outputs as of the commit that added this file.
Those outputs matched the executed JS reference 2000/2000 on both locales
in round 5. The executed-reference tests stay the source of truth:
regenerate the file only after they pass on a host that has the reference
checkout, with::

    python tests/parse_golden.py
"""

import gzip
import json
import os
import sys

PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "parse_golden.json.gz")
FIELDS = ("unit", "number", "street", "state", "country", "postalcode", "regions", "text")


def fields(rec) -> list:
    """A parse result as a golden row's output fields (regions as a list)."""
    return [list(rec[k]) if k == "regions" else rec[k] for k in FIELDS]


def load() -> dict:
    """``{"en-US": rows, "en-AU": rows, "overlay": rows}``."""
    with gzip.open(PATH, "rt", encoding="utf-8") as fh:
        return json.load(fh)


def _write() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(PATH)))
    from addressit_spark.kernel import make_locale, parse
    from test_custom_locale import _overlay_cases
    from test_kernel_fuzz import _fuzz_inputs

    golden = {
        locale: [[t] + fields(parse(t, locale=locale)) for t in _fuzz_inputs(locale)]
        for locale in ("en-US", "en-AU")
    }
    golden["overlay"] = [
        [text] + fields(parse(text, make_locale(base, **kwargs)))
        for base, kwargs, _req, text in _overlay_cases()
    ]
    # mtime=0: the same outputs always give the same bytes
    with gzip.GzipFile(PATH, "wb", mtime=0) as fh:
        fh.write(json.dumps(golden, separators=(",", ":")).encode("utf-8"))


if __name__ == "__main__":
    _write()
