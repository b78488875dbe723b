"""Value-standardization LUTs compiled to SQL expressions.

Parity target: /root/reference/openpolicedata/_converters.py — race LUT
(:293-617), ethnicity (:233-290), gender (:620-770), age-range (:146-230),
injury (:773-851), fatal (:853-881), firearm (:884-905), role (:129-143).

Architecture: the reference applies Python dict/regex lookups row-by-row via
``Series.apply``. Here each LUT is *compiled once* on the driver into one
SQL expression over its input:

    exact-code map  →  element_at(map(...literals...), key)
    pattern family  →  CASE WHEN key RLIKE ... THEN category ... END
    no_id fallback  →  keep original / null / sentinel

Each ``*_sql(ref, ...)`` builder returns SQL text over ``ref``, the SQL
text of its input (`functions.sqltext`: every literal and identifier is
quoted there); `standardize` embeds it in one projection. The public
``*_expr(col, ...)`` functions are thin wrappers that bind a Column. The
compiled expression is pure Catalyst — whole-stage codegen applies, no
Python in the executor path, and the map literals ship with the plan (they
are tiny). Per-source quirk codes live in declarative tables keyed by
source_name, mirroring the reference's per-source dict branches.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column

from openpolicedata_spark.defs import Ethnicity, Fatal, Gender, Injury, PersonType, Race
from openpolicedata_spark.functions.sqltext import ColumnOrName, bind, conj, lit

# --------------------------------------------------------------------------
# generic compiler
# --------------------------------------------------------------------------


def _fallback_sql(ref: str, no_id: str) -> str:
    """The value of an unmatched input under ``no_id`` (reference
    _converters.py:56-70)."""
    if no_id == "keep":
        return f"CAST({ref} AS STRING)"
    if no_id == "null":
        return "CAST(NULL AS STRING)"
    if no_id == "error":
        return lit("__NO_ID_ERROR__")
    raise ValueError(f"no_id must be keep|null|error, got {no_id!r}")


def compile_lut_sql(
    ref: str,
    exact: Optional[dict[str, str]] = None,
    patterns: Optional[list[tuple[str, str]]] = None,
    no_id: str = "keep",
    upper: bool = True,
    trim: bool = True,
) -> str:
    """Compile (exact-code dict, [(regex, category)] pattern family, no_id
    fallback) into one SQL expression over ``ref``.

    ``no_id`` ∈ {'keep', 'null', 'error'} mirrors the reference's fallback
    modes (_converters.py:56-70): keep the original value, null it, or — in
    'error' mode — emit the sentinel that the caller's validation step
    raises on (raising from a distributed expression is done by a checked
    assert_true at action time).
    """
    fallback = _fallback_sql(ref, no_id)
    key = f"CAST({ref} AS STRING)"
    if trim:
        key = f"trim({key})"
    if upper:
        key = f"upper({key})"

    found = []
    if exact:
        kv = ", ".join(f"{lit(k.upper() if upper else k)}, {lit(v)}"
                       for k, v in exact.items())
        found.append(f"element_at(map({kv}), {key})")
    if patterns:
        found.append("CASE " + " ".join(
            f"WHEN {key} RLIKE {lit(rx)} THEN {lit(category)}"
            for rx, category in patterns) + " END")
    if len(found) == 2:
        matched = f"coalesce({found[0]}, {found[1]})"
    else:
        matched = found[0] if found else "CAST(NULL AS STRING)"
    return (f"CASE WHEN {ref} IS NULL THEN NULL "
            f"ELSE coalesce({matched}, {fallback}) END")


def compile_lut(col: ColumnOrName, exact: Optional[dict[str, str]] = None,
                patterns: Optional[list[tuple[str, str]]] = None,
                no_id: str = "keep", upper: bool = True,
                trim: bool = True) -> Column:
    """`compile_lut_sql` as a Column over ``col``."""
    return bind(lambda r: compile_lut_sql(r, exact, patterns, no_id, upper,
                                          trim), col)


# --------------------------------------------------------------------------
# race (reference _converters.py:293-617)
# --------------------------------------------------------------------------

# Per-source letter codes (declarative port of the per-source dict branches,
# _converters.py:360-431). Keys uppercased.
SOURCE_RACE_CODES: dict[str, dict[str, str]] = {
    "Austin": {"M": Race.MIDDLE_EASTERN, "P": Race.PACIFIC_ISLANDER,
               "N": Race.INDIGENOUS, "O": Race.OTHER},
    "Washington Post": {"W": Race.WHITE, "B": Race.BLACK, "A": Race.ASIAN,
                        "N": Race.INDIGENOUS, "H": Race.LATINO,
                        "O": Race.OTHER, "--": Race.UNKNOWN},
    "New York City": {"P": Race.BLACK, "Q": Race.WHITE, "X": Race.UNKNOWN,
                      "Z": Race.OTHER},
    "Chicago": {"BLK": Race.BLACK, "WHI": Race.WHITE, "API": Race.AAPI,
                "WBH": Race.BLACK, "WWH": Race.WHITE, "I": Race.INDIGENOUS,
                "U": Race.UNKNOWN, "P": Race.PACIFIC_ISLANDER, "WHT": Race.WHITE},
    "Los Angeles": {"A": Race.ASIAN, "B": Race.BLACK, "C": Race.ASIAN,
                    "D": Race.ASIAN, "F": Race.ASIAN, "G": Race.PACIFIC_ISLANDER,
                    "H": Race.LATINO, "I": Race.INDIGENOUS, "J": Race.ASIAN,
                    "K": Race.ASIAN, "L": Race.ASIAN, "O": Race.OTHER,
                    "P": Race.PACIFIC_ISLANDER, "S": Race.PACIFIC_ISLANDER,
                    "U": Race.PACIFIC_ISLANDER, "V": Race.ASIAN, "W": Race.WHITE,
                    "X": Race.UNKNOWN, "Z": Race.SOUTH_ASIAN},
    "Louisville": {"A": Race.AAPI, "U": Race.UNKNOWN, "IB": Race.SOUTH_ASIAN,
                   "M": Race.MIDDLE_EASTERN, "AN": Race.INDIGENOUS},
    "Charleston": {"A": Race.AAPI, "AI": Race.INDIGENOUS, "AP": Race.AAPI,
                   "BK": Race.BLACK, "MR": Race.MULTIPLE, "AO": Race.OTHER},
}

# Numeric race codes (California RIPA / Lincoln, _converters.py:314-336).
NUMERIC_RACE_CODES: dict[str, dict[str, str]] = {
    "California": {"1": Race.ASIAN, "2": Race.BLACK, "3": Race.LATINO,
                   "4": Race.MIDDLE_EASTERN_SOUTH_ASIAN, "5": Race.INDIGENOUS,
                   "6": Race.PACIFIC_ISLANDER, "7": Race.WHITE, "8": Race.MULTIPLE},
    "Lincoln": {"1": Race.WHITE, "2": Race.BLACK, "3": Race.LATINO,
                "4": Race.ASIAN, "5": Race.INDIGENOUS, "6": Race.OTHER},
}

# Pattern families applied after per-source exact codes
# (_converters.py:434-610, condensed into one ordered rule table).
RACE_PATTERNS: list[tuple[str, str]] = [
    (r"^(W|WHITE|CAUCASIAN|WN|WHITE[ -]NON[ -]?HISPANIC)$", Race.WHITE),
    # anchored BOTH ends like every sibling rule: an open tail made any
    # B-prefixed value BLACK ('BIRACIAL' belongs to MULTI below, 'BLANK'
    # to unspecified; reference _converters.py:502-505 word-bounds BLACK)
    (r"^(B|BLACK|AFRICAN[ -]?AMERICAN|AFR AMERICAN|BLK)$", Race.BLACK),
    (r"^BLACK[^A-Z]", Race.BLACK),
    (r"^(H|HISPANIC|LATINO|LATINA|LATIN|HISPANIC OR LATINO|HIS)$", Race.LATINO),
    (r"(HISPANIC|LATIN)", Race.LATINO),
    (r"^(A|ASIAN|AS)$", Race.ASIAN),
    (r"ASIAN.{0,3}(PACIFIC|PAC).*(ISLANDER|ISL)?|^AAPI$|^API$", Race.AAPI),
    (r"(PACIFIC|HAWAII|SAMOAN|GUAMANIAN)", Race.PACIFIC_ISLANDER),
    (r"^ASIAN", Race.ASIAN),
    (r"(NATIVE AMER|AMERICAN INDIAN|ALASKAN? NATIVE|AMER IND|INDIGENOUS)", Race.INDIGENOUS),
    (r"(MIDDLE EAST)", Race.MIDDLE_EASTERN),
    (r"(ASIAN INDIAN|SOUTH ASIAN|INDIA|BURMESE)", Race.SOUTH_ASIAN),
    (r"(MULTI|BIRACIAL|MIXED|TWO OR MORE)", Race.MULTIPLE),
    (r"^(U|UNK|UNKNOWN|UNDECLARED|--)$", Race.UNKNOWN),
    (r"^(O|OTHER|OTH)$", Race.OTHER),
    (r"OTHER", Race.OTHER),
    (r"^(NOT *(SPECIFIED|STATED|RECORDED|APPLICABLE)|N/?A|NONE|BLANK|)$", Race.UNSPECIFIED),
]


# Census-style aggregation of fine-grained ancestry answers into the
# canonical buckets (reference agg_cat branch, _converters.py:500-560):
# applied BEFORE the standard patterns when agg_cat=True.
AGG_RACE_PATTERNS: list[tuple[str, str]] = [
    (r"(EAST AFRICAN|SOMALI|ETHIOPIAN|ERITREAN|KENYAN|NIGERIAN|GHANAIAN|HAITIAN|JAMAICAN|WEST INDIAN)", Race.BLACK),
    (r"(BOSNIAN|ALBANIAN|RUSSIAN|UKRAIN|POLISH|ITALIAN|IRISH|GERMAN|FRENCH|EUROPEAN)", Race.WHITE),
    (r"(MEXICAN|PUERTO RIC|CUBAN|GUATEMALAN|SALVADORAN|HONDURAN|COLOMBIAN|PERUVIAN|SOUTH AMERICAN|CENTRAL AMERICAN|DOMINICAN)", Race.LATINO),
    (r"(CHINESE|JAPANESE|KOREAN|VIETNAMESE|FILIPINO|CAMBODIAN|LAOTIAN|THAI|HMONG|TAIWANESE)", Race.ASIAN),
    (r"(ARAB|LEBANESE|SYRIAN|EGYPTIAN|IRAQI|IRANIAN|PERSIAN|TURKISH)", Race.MIDDLE_EASTERN),
    (r"(ASIAN INDIAN|PAKISTANI|BANGLADESH|SRI LANKAN|NEPALI)", Race.SOUTH_ASIAN),
]


def race_sql(ref: str, source_name: Optional[str] = None,
             state: Optional[str] = None, no_id: str = "keep",
             agg_cat: bool = False) -> str:
    """Compile the race LUT for one source into a SQL expression
    (reference `_create_race_lut`, _converters.py:293-617). ``agg_cat``
    folds census ancestry answers into the canonical buckets first."""
    exact: dict[str, str] = {}
    if state in NUMERIC_RACE_CODES:
        exact.update(NUMERIC_RACE_CODES[state])
    if source_name in NUMERIC_RACE_CODES:
        exact.update(NUMERIC_RACE_CODES[source_name])
    if source_name in SOURCE_RACE_CODES:
        exact.update(SOURCE_RACE_CODES[source_name])
    patterns = (AGG_RACE_PATTERNS + RACE_PATTERNS) if agg_cat else RACE_PATTERNS
    return compile_lut_sql(ref, exact=exact, patterns=patterns, no_id=no_id)


def race_expr(col: ColumnOrName, source_name: Optional[str] = None,
              state: Optional[str] = None, no_id: str = "keep",
              agg_cat: bool = False) -> Column:
    return bind(lambda r: race_sql(r, source_name, state, no_id, agg_cat), col)


# --------------------------------------------------------------------------
# ethnicity (reference _converters.py:233-290)
# --------------------------------------------------------------------------

ETHNICITY_PATTERNS: list[tuple[str, str]] = [
    (r"^(N|NO|NON[ -]?HISPANIC|NOT HISPANIC.*|NON[ -]?LATINO)$", Ethnicity.NONLATINO),
    (r"^(H|Y|YES|HISPANIC|LATINO|LATINA|HISPANIC OR LATINO)$", Ethnicity.LATINO),
    (r"(HISPANIC|LATIN)", Ethnicity.LATINO),
    (r"MIDDLE EAST", Ethnicity.MIDDLE_EASTERN),
    (r"^(U|UNK|UNKNOWN)$", Ethnicity.UNKNOWN),
    (r"^(NOT *(SPECIFIED|STATED|RECORDED)|N/?A|NONE|)$", Ethnicity.UNSPECIFIED),
]


def ethnicity_sql(ref: str, source_name: Optional[str] = None,
                  no_id: str = "keep") -> str:
    return compile_lut_sql(ref, patterns=ETHNICITY_PATTERNS, no_id=no_id)


def ethnicity_expr(col: ColumnOrName, source_name: Optional[str] = None,
                   no_id: str = "keep") -> Column:
    return bind(lambda r: ethnicity_sql(r, source_name, no_id), col)


# --------------------------------------------------------------------------
# gender (reference _converters.py:620-770)
# --------------------------------------------------------------------------

NUMERIC_GENDER_CODES: dict[str, dict[str, str]] = {
    # California stops data codes (_converters.py:640-652)
    "California": {"1": Gender.MALE, "2": Gender.FEMALE,
                   "3": Gender.TRANSGENDER_MALE, "4": Gender.TRANSGENDER_FEMALE,
                   "5": Gender.GENDER_NONCONFORMING},
    # Lincoln numeric gender codes: reference maps only 1/2
    # (_converters.py Lincoln branch)
    "Lincoln": {"1": Gender.MALE, "2": Gender.FEMALE},
}

GENDER_PATTERNS: list[tuple[str, str]] = [
    (r"^(M|MALE|MAN|CISGENDER MALE)$", Gender.MALE),
    (r"^(F|FEMALE|WOMAN|W|CISGENDER FEMALE)$", Gender.FEMALE),
    (r"TRANSGENDER.*(MAN|MALE)$", Gender.TRANSGENDER_MALE),
    (r"TRANSGENDER.*(WOMAN|FEMALE)$", Gender.TRANSGENDER_FEMALE),
    (r"^TRANSGENDER$", Gender.TRANSGENDER),
    (r"NON.?BINARY", Gender.GENDER_NONBINARY),
    (r"NON.?CONFORMING", Gender.GENDER_NONCONFORMING),
    (r"^(U|UNK|UNKNOWN)$", Gender.UNKNOWN),
    (r"^(OTHER|OTH|X)$", Gender.OTHER),
    (r"^(NOT *(SPECIFIED|STATED|RECORDED)|N/?A|NONE|)$", Gender.UNSPECIFIED),
]


def gender_sql(ref: str, source_name: Optional[str] = None,
               state: Optional[str] = None, no_id: str = "keep") -> str:
    exact: dict[str, str] = {}
    if state in NUMERIC_GENDER_CODES:
        exact.update(NUMERIC_GENDER_CODES[state])
    if source_name in NUMERIC_GENDER_CODES:
        exact.update(NUMERIC_GENDER_CODES[source_name])
    return compile_lut_sql(ref, exact=exact, patterns=GENDER_PATTERNS,
                           no_id=no_id)


def gender_expr(col: ColumnOrName, source_name: Optional[str] = None,
                state: Optional[str] = None, no_id: str = "keep") -> Column:
    return bind(lambda r: gender_sql(r, source_name, state, no_id), col)


# --------------------------------------------------------------------------
# age (reference preproc.py:1988-2151)
# --------------------------------------------------------------------------


def age_sql(ref: str, min_age: int = 1, max_age: int = 120) -> str:
    """Numeric coercion with outlier nulling (reference preproc.py:2147-2148
    uses nullable Int64 and [1,120] bounds)."""
    n = f"CAST({ref} AS DOUBLE)"
    i = f"CAST(round({n}) AS INT)"
    ok = conj(f"{n} IS NOT NULL", f"{n} = CAST({i} AS DOUBLE)",
              f"{i} >= {lit(min_age)}", f"{i} <= {lit(max_age)}")
    return f"CASE WHEN {ok} THEN {i} ELSE CAST(NULL AS INT) END"


def age_expr(col: ColumnOrName, min_age: int = 1, max_age: int = 120) -> Column:
    return bind(lambda r: age_sql(r, min_age, max_age), col)


AGE_RANGE_NORMALIZE: list[tuple[str, str]] = [
    # autocorrect Excel date-ification '17-Oct' → '10-17' handled separately
    (r"^(\d+)\s*(\+|PLUS|AND (UP|OLDER|OVER))$", "$1+"),
    (r"^(OVER|>)\s*(\d+)$", "$2+"),
    (r"^(UNDER|<)\s*(\d+)$", "0-$2"),
    (r"^(\d+)\s*(?:-|–|TO)\s*(\d+)$", "$1-$2"),
    (r"^(\d+)0S$", "$10-$19"),
]


def age_range_sql(ref: str, no_id: str = "keep") -> str:
    """Normalize age-range strings to 'lo-hi' / 'lo+' (reference
    `_create_age_range_lut`, _converters.py:146-230). Implemented as a
    regexp_replace chain + the month-name autocorrect ('17-Oct' → '10-17',
    an Excel mangling the reference repairs)."""
    months = {"JAN": 1, "FEB": 2, "MAR": 3, "APR": 4, "MAY": 5, "JUN": 6,
              "JUL": 7, "AUG": 8, "SEP": 9, "OCT": 10, "NOV": 11, "DEC": 12}
    fb = _fallback_sql(ref, no_id)
    s = f"upper(trim(CAST({ref} AS STRING)))"
    # Excel date-ification: '17-Oct' means the range 10-17.
    month_alt = "|".join(months)
    kv = ", ".join(f"{lit(k)}, {lit(str(v))}" for k, v in months.items())
    month_rx, day_rx, mangled_rx = (
        lit(rf"^\d+-({month_alt})$"), lit(rf"^(\d+)-(?:{month_alt})$"),
        lit(rf"^\d+-(?:{month_alt})$"))
    mnum = f"element_at(map({kv}), regexp_extract({s}, {month_rx}, 1))"
    day = f"regexp_extract({s}, {day_rx}, 1)"
    s = (f"CASE WHEN {s} RLIKE {mangled_rx} "
         f"THEN concat({mnum}, {lit('-')}, {day}) ELSE {s} END")
    for rx, repl in AGE_RANGE_NORMALIZE + [(r"^(\d+)<=X<(\d+)$", "$1-$2")]:
        s = f"regexp_replace({s}, {lit(rx)}, {lit(repl)})"  # last: 18<=x<25 style
    known = f"{s} RLIKE " + lit(r"^(\d+-\d+|\d+\+|ADULT|JUVENILE)$")
    return f"CASE WHEN {ref} IS NULL THEN NULL WHEN {known} THEN {s} ELSE {fb} END"


def age_range_expr(col: ColumnOrName, no_id: str = "keep") -> Column:
    return bind(lambda r: age_range_sql(r, no_id), col)


# --------------------------------------------------------------------------
# injury / fatal / firearm / role
# --------------------------------------------------------------------------

INJURY_PATTERNS: list[tuple[str, str]] = [
    (r"SELF[ -]?INFLICTED.*FATAL|FATAL.*SELF[ -]?INFLICTED", Injury.SELF_INFLICTED_FATAL),
    (r"(FATAL|DECEASED|DEATH|DIED|KILLED)", Injury.FATAL),
    (r"^(NO|N|NONE|NO INJUR.*|NOT INJURED|NO COMPLAINT.*)$", Injury.NO_INJURY),
    (r"(INJUR|WOUND|LACERAT|ABRASION|BRUIS|FRACTUR|GUNSHOT|BLEED|PAIN|BROKEN|"
     r"CONCUSS|TASER|HOSPITAL|TREATED)", Injury.INJURED),
    (r"^(Y|YES)$", Injury.INJURED),
    (r"^(U|UNK|UNKNOWN)$", Injury.UNKNOWN),
    (r"^(NOT *(SPECIFIED|STATED|RECORDED)|N/?A|)$", Injury.UNSPECIFIED),
]


def injury_sql(ref: str, no_id: str = "keep") -> str:
    """reference `_create_injury_lut` _converters.py:773-851."""
    return compile_lut_sql(ref, patterns=INJURY_PATTERNS, no_id=no_id)


def injury_expr(col: ColumnOrName, no_id: str = "keep") -> Column:
    return bind(lambda r: injury_sql(r, no_id), col)


FATAL_PATTERNS: list[tuple[str, str]] = [
    (r"SELF", Fatal.SELF_INFLICTED),
    (r"^(Y|YES|1|TRUE|FATAL|DECEASED)$", Fatal.YES),
    (r"^(N|NO|0|FALSE|NON[ -]?FATAL)$", Fatal.NO),
    (r"^(U|UNK|UNKNOWN)$", Fatal.UNKNOWN),
]


def fatal_sql(ref: str, no_id: str = "keep") -> str:
    """reference `_create_fatal_lut` _converters.py:853-881."""
    return compile_lut_sql(ref, patterns=FATAL_PATTERNS, no_id=no_id)


def fatal_expr(col: ColumnOrName, no_id: str = "keep") -> Column:
    return bind(lambda r: fatal_sql(r, no_id), col)


FIREARM_PATTERNS: list[tuple[str, str]] = [
    (r"^(Y|YES|1|TRUE|FIREARM.*)$", "YES"),
    (r"^(N|NO|0|FALSE|NONE)$", "NO"),
]


def firearm_sql(ref: str, no_id: str = "keep") -> str:
    """reference `_create_firearm_lut` _converters.py:884-905."""
    return compile_lut_sql(ref, patterns=FIREARM_PATTERNS, no_id=no_id)


def firearm_expr(col: ColumnOrName, no_id: str = "keep") -> Column:
    return bind(lambda r: firearm_sql(r, no_id), col)


ROLE_PATTERNS: list[tuple[str, str]] = [
    (r"^(OFFICER|OFF|PO|POLICE.*|DEPUTY|LAW ENFORCEMENT.*)$", PersonType.OFFICER),
    (r"^(SUBJECT|CIVILIAN|CITIZEN|SUSPECT|COMMUNITY MEMBER)$", PersonType.SUBJECT),
    (r"^(U|UNK|UNKNOWN|)$", PersonType.UNSPECIFIED),
]


def role_sql(ref: str, no_id: str = "keep") -> str:
    """reference `convert_off_or_civ` _converters.py:129-143."""
    return compile_lut_sql(ref, patterns=ROLE_PATTERNS, no_id=no_id)


def role_expr(col: ColumnOrName, no_id: str = "keep") -> Column:
    return bind(lambda r: role_sql(r, no_id), col)
