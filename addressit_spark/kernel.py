"""Pure-Python freeform street-address parse kernel.

A from-scratch re-implementation of the *semantics* of the reference
parser (DamonOehlman/addressit v1.8.2) as a side-effect-free Python
function, designed to be wrapped by a vectorized Arrow/pandas UDF
(see ``addressit_spark.parse_stage``).  Zero Spark imports here — this
module is unit-testable without a JVM and all regexes are compiled once
at module import (mirroring the reference's module-load precompilation,
``/root/reference/parsers/compiler.js:4-17``).

Semantics replicated (with reference citations for parity auditing):

* cleaners            — /root/reference/parsers/en.js:91-101
* whitespace split    — /root/reference/address.js:294-306
* unit extraction     — /root/reference/parsers/en.js:107-110, address.js:106-200
* street extraction   — /root/reference/address.js:208-269 (+ 35-72)
* state/country/postalcode extraction — address.js:106-200, locale/en-US.js, locale/en-AU.js
* finalize → regions  — /root/reference/address.js:277-287

Quirk ledger (SURVEY.md §2.8) is intentionally preserved, including:
ZIP+4 self-substitution leaving postalcode unset (Q1), AU postcode
prefix-stripping (Q2), ``number == ''`` when a street has no number
(Q3), multi-number ``'/'`` join (Q4), comma-required split-street (Q5),
state-only multi-token matching (Q6), the first-token state guard (Q7),
rightmost-token-wins (Q8), street match rejected at index 0 (Q9), and
cleaned-text output (Q10).
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Sequence, Union

__all__ = [
    "parse",
    "parse_to_row",
    "LOCALES",
    "ADDRESS_FIELDS",
    "STREET_TYPE_PATTERNS",
    "street_regexes",
]

# ---------------------------------------------------------------------------
# Lexicons
# ---------------------------------------------------------------------------

# Street-type pattern vocabulary (51 active entries; the reference disables
# COVE/END/FLAT/GARDENS/GLEN/GROVE/HEIGHTS/PARK/RIDGE/VIEW owing to suburb-name
# collisions — /root/reference/parsers/en.js:14-17,19-81).  Order matters:
# first matching pattern wins within a token scan.
STREET_TYPE_PATTERNS: Sequence[str] = (
    "ALLE?Y",
    "APP(ROACH)?",
    "ARC(ADE)?",
    "AV(E|ENUE)?",
    "(BOULEVARD|BLVD)",
    "BROW",
    "BYPA(SS)?",
    "C(AUSE)?WAY",
    "(CIRCUIT|CCT)",
    "CIRC(US)?",
    "CL(OSE)?",
    "CO?PSE",
    "(CORNER|CNR)",
    "(C((OUR)|R)?T|CRT)",
    "CRES(CENT)?",
    "DR(IVE)?",
    "ESP(LANADE)?",
    "F(REE)?WAY",
    "(FRONTAGE|FRNT)",
    "(GLADE|GLD)",
    "GR(EE)?N",
    "(HIGHWAY|HWY)",
    "(LANE|LN)",
    "LINK",
    "LOOP",
    "MALL",
    "MEWS",
    "(PACKET|PCKT)",
    "P(ARA)?DE",
    "(PARKWAY|PKWY)",
    "PL(ACE)?",
    "PROM(ENADE)?",
    "RES(ERVE)?",
    "RISE",
    "R(OA)?D",
    "ROW",
    "SQ(UARE)?",
    "ST(REET)?",
    "STRI?P",
    "TARN",
    "T(ERRA)?CE|TER?R",
    "(THOROUGHFARE|TFRE)",
    "TRACK?",
    "TR(AI)?L",
    "T(RUNK)?WAY",
    "VI?STA",
    "WALK",
    "WA?Y",
    "W(ALK)?WAY",
    "YARD",
    "BROADWAY",
)

_RE_COMPILER_REWRITE = re.compile(r"^\^?(.*),?\$?$")


def _compile_street_pattern(pattern: str) -> "re.Pattern[str]":
    """Wrap a vocabulary pattern as a whole-token matcher.

    Mirrors the reference compiler (/root/reference/parsers/compiler.js:4-17):
    ``P`` → ``^P,?$`` case-insensitively.  The greedy ``(.*)`` means the
    trailing ``,?$?`` alternatives never strip anything; we reproduce that
    exactly — including the quirk that a *top-level alternation* inside ``P``
    (e.g. ``T(ERRA)?CE|TER?R``) splits the anchors across its branches.
    """
    body = _RE_COMPILER_REWRITE.sub(lambda m: "^" + m.group(1) + ",?$", pattern)
    return re.compile(body, re.I)


def street_regexes() -> List["re.Pattern[str]"]:
    """The compiled street-type matcher battery (fresh copy)."""
    return [_compile_street_pattern(p) for p in STREET_TYPE_PATTERNS]


_STREET_REGEXES: Sequence["re.Pattern[str]"] = tuple(street_regexes())

# Direction word with a REQUIRED trailing comma (/root/reference/parsers/en.js:83).
_RE_SPLIT_STREET = re.compile(r"^(N|NTH|NORTH|E|EST|EAST|S|STH|SOUTH|W|WST|WEST),$", re.I)

# Streets that have no type suffix (/root/reference/parsers/en.js:84).
_RE_NO_STREET = _compile_street_pattern("BROADWAY")

# "numericesque" test used when relocating the best street part
# (/root/reference/address.js:209).  ASCII classes to match JS \d/\w.
_RE_NUMERICESQUE = re.compile(r"^(\d*|\d*\w)$", re.A)

# parseInt(x, 10) is NaN unless the token starts with an optionally-signed
# digit (/root/reference/address.js:45,61).
_RE_PARSEINT_OK = re.compile(r"^[+-]?\d", re.A)

# Cleaner 1: strip a dot that follows two word chars, globally
# (/root/reference/parsers/en.js:93-95).
_RE_CLEAN_DOTS = re.compile(r"(\w{2})\.", re.A)
# Cleaner 2: rewrite a leading "SHOP n," as unit syntax "n/"
# (/root/reference/parsers/en.js:98-100).
_RE_CLEAN_SHOP = re.compile(r"^\s*SHOP\s?(\d*),?\s*", re.I)

# Unit extraction battery (/root/reference/parsers/en.js:107-110).
_UNIT_REGEXES: Sequence["re.Pattern[str]"] = (
    re.compile(r"^(?:\#|APT|APARTMENT)\s?(\d+)", re.A),
    re.compile(r"^(\d+)/(.*)", re.A),
)

# Token separator (/root/reference/parsers/en.js:104 passes /\s/).
_RE_WHITESPACE = re.compile(r"\s")

# Region separator (/root/reference/address.js:279).
_RE_REGION_SEP = re.compile(r",\s?")

# ---------------------------------------------------------------------------
# Locales (/root/reference/locale/en-US.js, /root/reference/locale/en-AU.js)
# ---------------------------------------------------------------------------

_US_STATE_SOURCES: Dict[str, str] = {
    "AL": r"(^alabama|^AL$)",
    "AK": r"(^alaska|^AK$)",
    "AS": r"(^american\ssamoa|^AS$)",
    "AZ": r"(^arizona|^AZ$)",
    "AR": r"(^arkansas|^AR$)",
    "CA": r"(^california|^CA$)",
    "CO": r"(^colorado|^CO$)",
    "CT": r"(^connecticut|^CT$)",
    "DE": r"(^delaware|^DE$)",
    "DC": r"(^district\sof\scolumbia|^DC$)",
    "FM": r"(^federated\sstates\sof\smicronesia|^FM$)",
    "FL": r"(^florida|^FL$)",
    "GA": r"(^georgia|^GA$)",
    "GU": r"(^guam|^GU$)",
    "HI": r"(^hawaii|^HI$)",
    "ID": r"(^idaho|^ID$)",
    "IL": r"(^illinois|^IL$)",
    "IN": r"(^indiana|^IN$)",
    "IA": r"(^iowa|^IA$)",
    "KS": r"(^kansas|^KS$)",
    "KY": r"(^kentucky|^KY$)",
    "LA": r"(^louisiana|^LA$)",
    "ME": r"(^maine|^ME$)",
    "MH": r"(^marshall\sislands|^MH$)",
    "MD": r"(^maryland|^MD$)",
    "MA": r"(^massachusetts|^MA$)",
    "MI": r"(^michigan|^MI$)",
    "MN": r"(^minnesota|^MN$)",
    "MS": r"(^mississippi|^MS$)",
    "MO": r"(^missouri|^MO$)",
    "MT": r"(^montana|^MT$)",
    "NE": r"(^nebraska|^NE$)",
    "NV": r"(^nevada|^NV$)",
    "NH": r"(^new\shampshire|^NH$)",
    "NJ": r"(^new\sjersey|^NJ$)",
    "NM": r"(^new\smexico|^NM$)",
    "NY": r"(^new\syork|^NY$)",
    "NC": r"(^north\scarolina|^NC$)",
    "ND": r"(^north\sdakota|^ND$)",
    "MP": r"(^northern\smariana\sislands|^MP$)",
    "OH": r"(^ohio|^OH$)",
    "OK": r"(^oklahoma|^OK$)",
    "OR": r"(^oregon|^OR$)",
    "PW": r"(^palau|^PW$)",
    "PA": r"(^pennsylvania|^PA$)",
    "PR": r"(^puerto\srico|^PR$)",
    "RI": r"(^rhode\sisland|^RI$)",
    "SC": r"(^south\scarolina|^SC$)",
    "SD": r"(^south\sdakota|^SD$)",
    "TN": r"(^tennessee|^TN$)",
    "TX": r"(^texas|^TX$)",
    "UT": r"(^utah|^UT$)",
    "VT": r"(^vermont|^VT$)",
    "VI": r"(^virgin\sislands|^VI$)",
    "VA": r"(^virginia|^VA$)",
    "WA": r"(^washington|^WA$)",
    "WV": r"(^west\svirginia|^WV$)",
    "WI": r"(^wisconsin|^WI$)",
    "WY": r"(^wyoming|^WY$)",
}


class _KeyedRegexes:
    """A keyed lookup battery: ordered (key, compiled regex, source) triples.

    Matches the reference's object→array conversion where the matched field
    value becomes the *key* rather than the match text
    (/root/reference/address.js:114-128,161).
    """

    __slots__ = ("keys", "regexes", "space_counts")

    def __init__(self, sources: Dict[str, str]):
        self.keys = tuple(sources.keys())
        self.regexes = tuple(re.compile(src, re.I) for src in sources.values())
        # Reference counts "\s" occurrences in the raw source to size the
        # multi-token join window (/root/reference/address.js:168).
        self.space_counts = tuple(src.count(r"\s") + 1 for src in sources.values())


class _PlainRegexes:
    """An array battery: field value is capture group 1."""

    __slots__ = ("keys", "regexes", "space_counts")

    def __init__(self, regexes: Sequence["re.Pattern[str]"]):
        self.keys = (None,) * len(regexes)
        self.regexes = tuple(regexes)
        self.space_counts = tuple(p.pattern.count(r"\s") + 1 for p in regexes)


_Battery = Union[_KeyedRegexes, _PlainRegexes]

# The unit battery is locale-independent (/root/reference/parsers/en.js:107-110
# hardcodes it in the parser driver), so one module-level instance serves every
# parse() call instead of rebuilding the battery per row.
_UNIT_BATTERY = _PlainRegexes(_UNIT_REGEXES)


class Locale:
    """Frozen locale config: which extractors run and with what lexicons.

    Raw regex sources are retained (``*_src``) so caller-opts overlays
    (:func:`make_locale`, mirroring the reference's ``cog/extend`` merge at
    /root/reference/locale/en-US.js:6 — caller wins per top-level key) can
    rebuild a derived locale without reverse-engineering compiled patterns.
    """

    __slots__ = (
        "name", "state", "country", "postalcode",
        "state_src", "country_src", "postalcode_src",
    )

    def __init__(
        self,
        name: str,
        state: Optional[Dict[str, str]] = None,
        country: Optional[Dict[str, str]] = None,
        postalcode: Optional[str] = None,
    ):
        self.name = name
        self.state_src = dict(state) if state else None
        self.country_src = dict(country) if country else None
        self.postalcode_src = postalcode
        self.state = _KeyedRegexes(state) if state else None
        self.country = _KeyedRegexes(country) if country else None
        self.postalcode = (
            _PlainRegexes([re.compile(postalcode)]) if postalcode else None
        )

    def __getstate__(self):  # __slots__ classes need explicit pickling;
        # ship only raw sources — patterns recompile on the worker.
        return (self.name, self.state_src, self.country_src, self.postalcode_src)

    def __setstate__(self, st):
        self.__init__(st[0], state=st[1], country=st[2], postalcode=st[3])


_UNSET = object()


def make_locale(
    base: Union[str, "Locale", None] = "en-US",
    *,
    name: Optional[str] = None,
    state: object = _UNSET,
    country: object = _UNSET,
    postalcode: object = _UNSET,
) -> "Locale":
    """Caller-supplied locale opts over a base locale — the ``extend`` overlay.

    Mirrors ``parser(input, extend({defaults…}, opts))``
    (/root/reference/locale/en-US.js:4-6, /root/reference/index.js:48-54):
    a shallow merge where each caller-given top-level key REPLACES the
    base's whole value for that key. Passing an explicit falsy value (e.g.
    ``state=None``) disables that extractor, exactly like a falsy ``opts``
    member failing the reference's ``if (opts && opts.state)`` guard
    (/root/reference/parsers/en.js:115-125); omitting the kwarg inherits
    the base locale's lexicon.

    ``state``/``country`` are ordered ``{KEY: regex-source}`` dicts;
    ``postalcode`` is one regex source string. Sources use the same JS-style
    syntax as the built-in locales (compiled case-insensitive, ``\\s``
    literal token windows counted for multi-token joins).
    """
    if base is None:
        b_state = b_country = b_postal = None
        base_name = "custom"
    else:
        loc = LOCALES[base] if isinstance(base, str) else base
        b_state, b_country, b_postal = loc.state_src, loc.country_src, loc.postalcode_src
        base_name = loc.name
    return Locale(
        name or base_name + "+opts",
        state=b_state if state is _UNSET else state,  # type: ignore[arg-type]
        country=b_country if country is _UNSET else country,  # type: ignore[arg-type]
        postalcode=b_postal if postalcode is _UNSET else postalcode,  # type: ignore[arg-type]
    )


EN_US = Locale(
    "en-US",
    state=_US_STATE_SOURCES,
    country={"USA": r"(^UNITED\sSTATES|^U\.?S\.?A?$)"},
    # ZIP 'DDDDD' or 'DDDDD-DDDD' — group 2 triggers the self-substitution
    # quirk Q1 (/root/reference/locale/en-US.js:71).
    postalcode=r"(^\d{5}$)|(^\d{5}-\d{4}$)",
)

EN_AU = Locale(
    "en-AU",
    country={"AUS": r"(^AUSTRALIA|^A\.?U\.?S?$)"},
    # First two digits 02/08/20-97, plus 909/0909; unanchored at the start →
    # quirk Q2 (/root/reference/locale/en-AU.js:10).
    postalcode=r"((?:[1-8][0-9]|9[0-7]|0?[28]|0?9(?=09))(?:[0-9]{2}))\s*$",
)

LOCALES: Dict[str, Locale] = {"en-US": EN_US, "en-AU": EN_AU}

ADDRESS_FIELDS = (
    "unit",
    "number",
    "street",
    "state",
    "country",
    "postalcode",
    "regions",
    "text",
)

# ---------------------------------------------------------------------------
# Kernel stages
# ---------------------------------------------------------------------------


def _group(m: "re.Match[str]", idx: int) -> Optional[str]:
    """Like JS match[idx]: None when the group doesn't exist or didn't fire."""
    if idx > m.re.groups:
        return None
    return m.group(idx)


def _clean(text: str) -> str:
    text = _RE_CLEAN_DOTS.sub(r"\1", text)
    # JS String#replace without /g substitutes only the first occurrence;
    # the pattern is ^-anchored anyway.
    text = _RE_CLEAN_SHOP.sub(r"\1/", text, count=1)
    return text


def _split(text: str) -> List[str]:
    return [p for p in _RE_WHITESPACE.split(text) if p]


def _parse_int_is_nan(token: str) -> bool:
    return _RE_PARSEINT_OK.match(token) is None


def _extract(fields: Dict[str, object], field: str, battery: _Battery, parts: List[str]) -> None:
    """Rightmost-token-wins field extraction with token removal/substitution.

    Port of /root/reference/address.js:106-200.  ``fields[field]`` uses the
    same truthiness guard as the reference ('' and None both falsy).
    """
    if fields.get(field):
        return

    keys = battery.keys
    regexes = battery.regexes
    space_counts = battery.space_counts

    ii = len(parts) - 1
    while ii >= 0:
        for rgx_idx, rgx in enumerate(regexes):
            if fields.get(field):
                continue
            # First-token guard, state only (/root/reference/address.js:137-144).
            if ii == 0 and field == "state" and len(parts) > 1 and len(parts[0]) <= 3:
                continue

            # ii can go negative mid-scan after a multi-token splice; JS reads
            # parts[-k] as undefined (never matches), so guard both ends.
            m = rgx.search(parts[ii]) if 0 <= ii < len(parts) else None
            if m:
                g2 = _group(m, 2)
                if g2:
                    # Substitute the token with capture group 2
                    # (/root/reference/address.js:151-154) — this is also the
                    # ZIP+4 self-substitution path (quirk Q1).
                    parts[ii] = g2
                else:
                    del parts[ii]
                fields[field] = keys[rgx_idx] or _group(m, 1)
            elif field == "state":
                # Multi-token join-and-match window, state only
                # (/root/reference/address.js:166-195).
                spaces_in_match = space_counts[rgx_idx]
                if spaces_in_match > 1:
                    lo = ii - spaces_in_match + 1
                    window = parts[max(lo, 0) : ii + 1]
                    mm = rgx.search(" ".join(window))
                    if mm:
                        g2 = _group(mm, 2)
                        start = max(lo, 0)
                        if g2:
                            parts[start : start + spaces_in_match] = [g2]
                        else:
                            del parts[start : start + spaces_in_match]
                        ii -= spaces_in_match + 1
                        fields[field] = keys[rgx_idx] or _group(mm, 1)
        ii -= 1


def _extract_street_parts(
    fields: Dict[str, object], parts: List[str], start_index: int, street_parts_length: int
) -> None:
    """Walk left from the street-type token, splicing out street + number.

    Port of /root/reference/address.js:35-72: alpha tokens are always absorbed
    into the street; the length cap only gates absorption of numeric-leading
    tokens, which then accumulate into the building/unit number; extraction
    stops at the first alpha token after numbers began.
    """
    index = start_index
    street_parts: List[str] = []
    number_parts: Optional[List[str]] = None
    collecting_numbers = False

    while index >= 0:
        if collecting_numbers:
            # testFn: keep going only while tokens remain numeric-leading
            # (/root/reference/address.js:60-66).
            if _parse_int_is_nan(parts[index]):
                break
        alpha_part = _parse_int_is_nan(parts[index])
        if len(street_parts) < street_parts_length or alpha_part:
            street_parts.insert(0, parts.pop(index))
        else:
            if number_parts is None:
                number_parts = []
            number_parts.insert(0, parts.pop(index))
            collecting_numbers = True
        index -= 1

    fields["number"] = "/".join(number_parts) if number_parts is not None else ""
    fields["street"] = " ".join(street_parts).replace(",", "")


def _extract_street(fields: Dict[str, object], parts: List[str]) -> None:
    """Right-to-left street-type scan with best-part relocation.

    Port of /root/reference/address.js:208-269.  ``street_parts_length`` is
    function-scoped on purpose: a second extraction in the same call reuses
    any widened/narrowed value, exactly like the reference.
    """
    street_parts_length = 2

    def locate_best_street_part(start_index: int) -> int:
        # Smallest qualifying index wins: the loop keeps overwriting bestIndex
        # as it walks toward the front (/root/reference/address.js:222-239).
        best_index = start_index
        for ii in range(start_index - 1, -1, -1):
            for rgx in _STREET_REGEXES:
                if (
                    rgx.search(parts[ii])
                    and ii >= 1
                    and parts[ii - 1]
                    and not _RE_NUMERICESQUE.search(parts[ii - 1])
                ):
                    best_index = ii
                    break
        return best_index

    part_idx = len(parts) - 1
    while part_idx >= 0:
        for rgx in _STREET_REGEXES:
            # A match on the first token is rejected: probably a town name
            # like 'St George' (/root/reference/address.js:247).
            if part_idx > 0 and part_idx < len(parts) and rgx.search(parts[part_idx]):
                start_index = locate_best_street_part(part_idx)
                # Split street (e.g. 'Foo Rd West,') widens the street window —
                # the direction word requires a trailing comma
                # (/root/reference/address.js:253-256, parsers/en.js:83).
                if start_index + 1 < len(parts) and _RE_SPLIT_STREET.search(
                    parts[start_index + 1]
                ):
                    street_parts_length = 3
                    start_index += 1
                if _RE_NO_STREET.search(parts[start_index]):
                    street_parts_length = 1
                _extract_street_parts(fields, parts, start_index, street_parts_length)
                break
        part_idx -= 1


def _finalize(fields: Dict[str, object], parts: List[str]) -> None:
    fields["regions"] = [r for r in _RE_REGION_SEP.split(" ".join(parts)) if r]


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------


def parse(text: str, locale: Union[str, Locale] = "en-US") -> Dict[str, object]:
    """Parse one freeform address into a structured record.

    Returns a dict with keys ``unit number street state country postalcode
    regions text``; absent fields are ``None`` (the reference's dynamic-schema
    "field never set"), except ``number`` which is ``''`` when a street was
    extracted without a leading number (quirk Q3) and ``regions`` which is
    always a list.  ``text`` is the *cleaned* input (quirk Q10).

    Stage order is load-bearing (/root/reference/parsers/en.js:86-129):
    clean → split → unit → street → state → country → postalcode → finalize.
    """
    loc = LOCALES[locale] if isinstance(locale, str) else locale

    fields: Dict[str, object] = {}
    cleaned = _clean(text)
    parts = _split(cleaned)

    _extract(fields, "unit", _UNIT_BATTERY, parts)
    _extract_street(fields, parts)
    if loc.state is not None:
        _extract(fields, "state", loc.state, parts)
    if loc.country is not None:
        _extract(fields, "country", loc.country, parts)
    if loc.postalcode is not None:
        _extract(fields, "postalcode", loc.postalcode, parts)
    _finalize(fields, parts)

    return {
        "unit": fields.get("unit"),
        "number": fields.get("number"),
        "street": fields.get("street"),
        "state": fields.get("state"),
        "country": fields.get("country"),
        "postalcode": fields.get("postalcode"),
        "regions": fields["regions"],
        "text": cleaned,
    }


def parse_to_row(text: Optional[str], locale: str = "en-US") -> tuple:
    """Parse to a tuple in ``ADDRESS_FIELDS`` order (for Arrow struct output)."""
    if text is None:
        return (None, None, None, None, None, None, None, None)
    rec = parse(text, locale)
    return tuple(rec[f] for f in ADDRESS_FIELDS)


def to_string(record: Dict[str, object]) -> str:
    """Format a parsed record — O17, /root/reference/address.js:313-328.

    The reference emits ``[number ]street\\n`` when a street exists, then
    ``regions joined by ', ' + '\\n'`` unconditionally. (Its ``building``
    field is never set by any parser stage, so that branch is dead code.)
    ``number`` is '' for street-without-number (Q3) — falsy, so no prefix,
    exactly like the reference's ternary.
    """
    out = ""
    street = record.get("street")
    if street:
        number = record.get("number")
        out += "%s " % number if number else ""
        out += "%s\n" % street
    regions = record.get("regions") or []
    out += ", ".join(regions) + "\n"
    return out
