"""The validation battery (operators V1-V46 + V-agg, SURVEY.md §2.5) as
one vectorized Arrow kernel.

The reference runs 5 base validators + 1 type-specific validator per
document on a thread pool (validation_service.py:306-327). Here the
validators are plain Python functions over one document row, and ONE
scalar Arrow UDF (``arrow_udf``) maps them over each Arrow batch: the
rule layer crosses the JVM/Python boundary once per batch, and the
battery runs in the same Python workers as the extraction legs.

Kernel design:
- Input is one struct per row: the 13 extracted field strings, the
  three parsed dates, ``doc_type_enum``, ``run_date`` and
  ``minimum_age``. The dates are parsed by Spark (``with_parsed_dates``,
  the 23-format try-in-order parse) and cross the boundary as
  ``unix_date`` day numbers, so date parsing cannot drift and any date
  Spark can hold — year 0, negative, five-digit — reaches the kernel
  (a Python ``datetime.date`` stops at 1..9999).
- Output is ``array<VALIDATOR_RESULT_TYPE>`` (schemas.py), the five base
  results followed by the dispatched type-specific one when the type
  has a validator; details entries keep their insertion order.
- The per-province DL validators and the national passport validators
  are each ONE function over a config row (``DLConfig`` /
  ``PassportConfig``); the dispatch map is a dict lookup on the enum.
- Every public ``*_validator`` / ``*_expr`` name still returns a Column:
  a single validator is the same kernel over a one-function battery.

The kernel replaced a ~1 MB interpreted Catalyst tree (every validator
bound through ``transform`` lambdas, so none of it compiled): building
it cost ~94k py4j calls and its per-row evaluation dominated the
pipeline's after-shuffle stage, most of it in GC.

Spark semantics the kernel reproduces byte-for-byte (the old expression
forms; tests/test_rules_pipeline.py pins a digest of the full output):
- ``trim`` strips only U+0020 (``str.strip()`` strips all whitespace);
- ``rlike`` is a Java-regex *search*: ``\\d``/``\\s`` are ASCII-only and
  an unescaped ``$`` also matches before one final line terminator;
- ``format_number(x, 1)`` groups thousands (``f"{x:,.1f}"``, both
  HALF_EVEN on the exact double);
- ``concat`` is NULL when any input is NULL while ``array_join`` skips
  NULL elements — a NULL message still counts toward the status;
- ``substring``/``split``/``element_at`` positions follow Spark's
  1-based, clamp-at-bounds rules;
- date_format's ``yyyy`` pads to 4 digits and signs years outside
  0..9999; ``yy`` is the last two digits of the absolute year.

Statuses (passed/failed/warning/skipped), skip conditions, thresholds,
check order AND message strings replicate the reference byte-for-byte:
the per-validator string constants live in DL_MSGS below (transcribed
with file:line citations), and tests/test_validator_messages.py pins
every (status, message, details) triple against goldens generated by
running the reference's own validator classes
(scripts/gen_validator_goldens.py) over the 21 ported cases, and
tests/test_validator_messages_family.py does the same for the
passport/PR/photo/health/US-DL family (105 cases covering every
fail-path string). ValidatorResult.details is a MAP<STRING,STRING>
replicating the reference's per-check detail dicts — checks_performed,
calculated values (ages, day counts, validity years), verdict booleans,
and the "; "-joined issues/warnings copies of the fail/warn branches
(ontario_dl.py:236-241) — under a fixed value canonicalization shared
with scripts/gen_validator_goldens.py:
  bool       -> "true"/"false"
  int        -> decimal string
  round(x,1) -> format_number(x, 1)
  list[str]  -> "; "-joined           (checks_performed, issues, ...)
  list[dict] -> compact JSON          (document_format matched_patterns)
The Verifik external lookup runs in its disabled default (config.py:7
VERIFIK_API_ENABLED=false), surfaced as details.verifik_api_enabled=
false on the ON/BC DL results (ontario_dl.py:223-226, bc_dl.py:244-248)
— it changes no status. "now" is the frozen ``run_date`` job parameter
(SURVEY.md §7.4.3).
"""

from __future__ import annotations

import functools
import json
import math
import re
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType

from webxtract.exprs import gateway_cached
from webxtract.rules import COUNTRY_CODES, DATE_FORMATS_SPARK
from webxtract.schemas import FIELD_NAMES, VALIDATOR_RESULT_TYPE

RESULTS_TYPE = ArrayType(VALIDATOR_RESULT_TYPE)


# ------------------------------------------------ Spark semantics in Python

_SEP = re.compile(r"[\s\-]", re.ASCII)          # regexp_replace(x, "[\s\-]", "")
_SEP_SLASH = re.compile(r"[\s\-/]", re.ASCII)
_WS_RUN = re.compile(r"\s+", re.ASCII)          # split(x, "\s+")
_NON_AZ = re.compile(r"[^A-Z]")
_NON_DIGIT = re.compile(r"[^0-9]")
# Java's non-MULTILINE ``$``: end of input, or before a line terminator
# that ends the input
_JAVA_END = "(?=(?:\r\n|[\n\r\u0085\u2028\u2029])?\\Z)"


@functools.lru_cache(maxsize=256)
def _java_re(pattern: str) -> re.Pattern:
    out, i, in_class = [], 0, False
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\":
            out.append(pattern[i:i + 2])
            i += 2
            continue
        if ch == "[":
            in_class = True
        elif ch == "]":
            in_class = False
        elif ch == "$" and not in_class:
            ch = _JAVA_END
        out.append(ch)
        i += 1
    return re.compile("".join(out), re.ASCII)


def _rlike(s: str, pattern: str) -> bool:
    return _java_re(pattern).search(s) is not None


def _trim(s: str) -> str:
    return s.strip(" ")


def _s(v: str | None) -> str:
    """coalesce(v, '')"""
    return "" if v is None else v


def _blank(v: str | None) -> bool:
    return v is None or _trim(v) == ""


def _cat(*parts: str | None) -> str | None:
    """concat: NULL when any part is NULL."""
    return None if any(p is None for p in parts) else "".join(parts)


def _join(msgs: list, sep: str = "; ") -> str:
    """array_join: NULL elements are skipped."""
    return sep.join(m for m in msgs if m is not None)


def _f1(x: float) -> str:
    """format_number(x, 1)"""
    return f"{x:,.1f}"


def _t(cond: bool) -> str | None:
    """The reference's ``details[k] = True`` shape: present only when true."""
    return "true" if cond else None


def _b(cond: bool) -> str:
    return "true" if cond else "false"


def _dmap(*pairs) -> dict:  # noqa: ANN002
    """Details map from (key, value) pairs; an entry is present exactly
    when both are non-NULL. Entry order is pair order."""
    return {k: v for k, v in pairs if k is not None and v is not None}


def _ymd(days: int) -> tuple[int, int, int]:
    """Proleptic-Gregorian (year, month, day) of a unix day number, for
    any year (H. Hinnant's civil_from_days)."""
    z = days + 719468
    era = z // 146097
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    m = mp + 3 if mp < 10 else mp - 9
    return yoe + era * 400 + (m <= 2), m, doy - (153 * mp + 2) // 5 + 1


def _iso(days: int) -> str:
    """date_format(d, 'yyyy-MM-dd')"""
    y, m, d = _ymd(days)
    yyyy = f"{y:04d}" if 0 <= y <= 9999 else (f"+{y}" if y > 0 else f"-{-y:04d}")
    return f"{yyyy}-{m:02d}-{d:02d}"


def _mmdd(days: int, sep: str) -> str:
    _y, m, d = _ymd(days)
    return f"{m:02d}{sep}{d:02d}"


def _age(ref: int, dob: int) -> int:
    """Exact reference age algorithm (age_validator.py:36-38): year diff
    minus (month, day) tuple comparison — NOT months_between."""
    ry, rm, rd = _ymd(ref)
    by, bm, bd = _ymd(dob)
    return ry - by - ((rm, rd) < (bm, bd))


_D1985 = 5479  # unix_date('1985-01-01')


def _res(name: str, status: str, message: str | None, details: dict) -> dict:
    return {"validator_name": name, "status": status, "message": message,
            "details": list(details.items())}


def _skipped(name: str, missing: str, message: str | None = None) -> dict:
    """Skip shape (base.py:41-53)."""
    return _res(name, "skipped", message or f"Required fields missing: {missing}",
                {"missing_fields": missing})


def _typed(name: str, issues: list, warnings: list, fail_header: str | None,
           warn_msg: str | None, pass_msg: str | None, details: dict) -> dict:
    """Type-specific shape with the reference's FAILED > WARNING > PASSED
    precedence (e.g. ontario_dl.py:231-258): the fail message joins the
    issues (``f"{header} failed: {'; '.join(issues)}"``, :234), the
    warning message is fixed (:245), and details gain the issues +
    warnings copies on fail (the warnings key even when empty, :235-241)
    or the warnings copy on warn."""
    if issues:
        joined = _join(issues)
        details.update(issues=joined, warnings=_join(warnings))
        return _res(name, "failed", _cat(fail_header, ": ", joined), details)
    if warnings:
        details["warnings"] = _join(warnings)
        return _res(name, "warning", warn_msg, details)
    return _res(name, "passed", pass_msg, details)


def _iw(out: list, cond: bool, msg) -> None:  # noqa: ANN001
    """Append ``msg`` (a string or a thunk) when ``cond`` holds."""
    if cond:
        out.append(msg() if callable(msg) else msg)


# ------------------------------------------------------- date parsing (Spark)


def parse_date_expr(col: Column) -> Column:
    """Ordered try-in-order date parse (base.py:56-98). The format order,
    incl. dd/MM/yyyy before MM/dd/yyyy, is load-bearing. The reference's
    final title-case retry is approximated with an initcap(lower())
    variant (covers space-separated month-name forms)."""
    raw = F.trim(col)
    attempts = [F.try_to_date(raw, fmt) for fmt in DATE_FORMATS_SPARK]
    attempts += [
        F.try_to_date(F.initcap(F.lower(raw)), fmt)
        for fmt in DATE_FORMATS_SPARK
        if "MMM" in fmt
    ]
    return F.coalesce(*attempts)


# Pre-parsed date columns: each date field is parsed once per row by
# Spark and the kernel reads the parsed values.
DOB_COL, ISSUE_COL, EXP_COL = "__dob_d", "__issue_d", "__exp_d"


@gateway_cached(maxsize=4)
def _parsed_date_exprs() -> dict:
    return {
        DOB_COL: parse_date_expr(F.col("date_of_birth")),
        ISSUE_COL: parse_date_expr(F.col("issue_date")),
        EXP_COL: parse_date_expr(F.col("expiry_date")),
    }


def with_parsed_dates(df):  # noqa: ANN001, ANN201
    return df.withColumns(_parsed_date_exprs())


# ------------------------------------------------------------- base five


def _data_consistency(r: dict) -> dict:
    """V1 (validators/data_consistency.py:13-72)."""
    missing = [f for f in ("date_of_birth", "expiry_date") if _blank(r[f])]
    if missing:
        # the skip message lists the actually-missing fields (base.py:41-53)
        return _skipped("data_consistency", "; ".join(missing),
                        "Required fields missing: " + ", ".join(missing))
    dob, issue, exp, run = r["dob"], r["issue"], r["exp"], r["run"]
    issues: list = []
    _iw(issues, dob is not None and issue is not None and dob >= issue,
        "Date of birth is not before issue date")
    _iw(issues, issue is not None and exp is not None and issue >= exp,
        "Issue date is not before expiry date")
    if dob is not None:
        age = math.floor((run - dob) / 365)
        _iw(issues, age > 150 or age < 0, f"Unrealistic age calculated: {age} years")
    if issue is not None and exp is not None:
        validity = math.floor((exp - issue) / 365)
        _iw(issues, validity > 50,
            f"Unusual document validity period: {validity} years")
    if issues:
        # fail message is the fixed string (data_consistency.py:63); the
        # issue texts go to details, not the message (:64-72)
        return _res("data_consistency", "failed", "Data consistency issues found",
                    {"issues": _join(issues)})
    return _res("data_consistency", "passed", "All date relationships are consistent", {})


def _document_expiry(r: dict) -> dict:
    """V2 (validators/document_expiry.py:13-64): each branch carries its
    complete message and details."""
    if _blank(r["expiry_date"]):
        return _skipped("document_expiry", "expiry_date")
    exp = r["exp"]
    if exp is None:
        return _res("document_expiry", "warning", "Could not parse expiry date format",
                    {"raw_expiry_date": _s(r["expiry_date"])})
    days = exp - r["run"]
    det = {"expiry_date": _iso(exp)}
    if days < 0:
        det["days_expired"] = str(-days)
        return _res("document_expiry", "failed", f"Document expired {-days} days ago", det)
    det["days_until_expiry"] = str(days)
    if days < 30:
        return _res("document_expiry", "warning", f"Document expires in {days} days", det)
    return _res("document_expiry", "passed", f"Document valid for {days} days", det)


def _age_validation(r: dict) -> dict:
    """V3 (validators/age_validator.py:16-60) — warn (not fail) under min."""
    if _blank(r["date_of_birth"]):
        return _skipped("age_validation", "date_of_birth")
    dob, minimum_age = r["dob"], r["minimum_age"]
    if dob is None:
        return _res("age_validation", "warning", "Could not parse date of birth format",
                    {"raw_dob": _s(r["date_of_birth"])})
    age = _age(r["run"], dob)
    det = {"calculated_age": str(age), "minimum_age": str(minimum_age)}
    if age < minimum_age:
        det["date_of_birth"] = _iso(dob)
        return _res("age_validation", "warning",
                    f"Person is {age} years old, minimum required is {minimum_age}", det)
    return _res("age_validation", "passed", f"Age verification passed ({age} years old)", det)


# 18 named patterns + descriptions (validators/document_format.py:13-38)
DOCUMENT_FORMAT_PATTERNS = [
    ("CA_ONTARIO_DL", r"^[A-Z]\d{4}-?\d{5}-?\d{5}$", "Ontario Driver's Licence"),
    ("CA_BC_DL", r"^(DL:?)?\d{6,7}$", "BC Driver's Licence"),
    ("CA_ALBERTA_DL", r"^\d{6}-?\d{3}$", "Alberta Driver's Licence"),
    ("CA_QUEBEC_DL", r"^[A-Z]\d{12}$", "Quebec Driver's Licence"),
    ("CA_MANITOBA_DL", r"^[A-Z]{4}\d{6}$", "Manitoba Driver's Licence"),
    ("CA_PASSPORT", r"^[A-Z]{2}\d{6}$", "Canadian Passport"),
    ("US_PASSPORT", r"^[A-Z]\d{8}$", "US Passport"),
    ("US_DL_CALIFORNIA", r"^[A-Z]\d{7}$", "California Driver's License"),
    ("US_DL_TEXAS", r"^\d{8}$", "Texas Driver's License"),
    ("US_DL_FLORIDA", r"^[A-Z]\d{12}$", "Florida Driver's License"),
    ("US_DL_NEW_YORK", r"^\d{9}$", "New York Driver's License"),
    ("US_DL_OHIO", r"^[A-Z]{2}\d{6}$", "Ohio Driver's License"),
    ("US_DRIVERS_LICENSE", r"^[A-Z]{1,2}\d{6,14}$", "US Driver's License (generic)"),
    ("UK_PASSPORT", r"^\d{9}$", "UK Passport"),
    ("UK_DRIVERS_LICENSE", r"^[A-Z]{5}\d{6}[A-Z]{2}\d{2}$", "UK Driver's License"),
    ("EU_ID", r"^[A-Z]{2}\d{7}$", "European ID Card"),
    ("GENERIC_NUMERIC", r"^\d{6,12}$", "Generic numeric ID"),
    ("GENERIC_ALPHANUMERIC", r"^[A-Z0-9]{6,15}$", "Generic alphanumeric ID"),
]


def _document_format(r: dict) -> dict:
    """V4 (validators/document_format.py:40-82): PASS if any of the 18
    patterns match the raw or dash-stripped number, else WARN; the
    matched (name, description) rows feed details.matched_patterns as
    compact JSON (the reference's list-of-dicts, :55-70)."""
    if _blank(r["document_number"]):
        return _skipped("document_format", "document_number")
    raw = _trim(_s(r["document_number"])).upper()
    clean = _SEP.sub("", raw)
    matches = [
        {"pattern_name": name, "description": desc}
        for name, p, desc in DOCUMENT_FORMAT_PATTERNS
        if _rlike(raw, p) or _rlike(clean, p)
    ]
    if not matches:
        return _res("document_format", "warning",
                    "Document number does not match common formats",
                    {"document_number": raw,
                     "note": "May still be valid - format not in known patterns"})
    return _res("document_format", "passed",
                f"Document number matches {len(matches)} known format(s)",
                {"document_number": raw,
                 "matched_patterns": json.dumps(matches, separators=(",", ":"))})


_FACE_MATCHING = _res(
    "face_matching", "skipped", "Face matching skipped - no selfie provided",
    # face_matching.py:27-29
    {"note": "Provide selfie image to enable face matching"},
)


def _face_matching(_r: dict) -> dict:
    """V5 (validators/face_matching.py:18-49): always SKIPPED (no selfie)."""
    return _FACE_MATCHING


def _last_name(r: dict, variant: str | None) -> tuple[str, str]:
    """(last name, source label) by the three extraction variants
    (SURVEY.md §2.5); the label is interpolated into the first-letter
    mismatch issue ("... (from {name_source})", ontario_dl.py:104-107):
    - "first_word": comma-part else FIRST word else last_name field
      (ontario_dl.py:28-59; also QC/MB/NS/NL)
    - "bc": comma-part else last_name field else LAST word (bc_dl.py:27-53;
      its comma label is "full_name_parsed", :40)
    - "field_first": last_name field else comma-part else LAST word
      (california_dl.py:23-39; also TX, US)
    """
    full = _s(r["full_name"])
    last_field = _trim(_s(r["last_name"]))
    comma_part = _trim(full.split(",", 1)[0])
    words = _WS_RUN.split(_trim(full))
    has_comma = "," in full
    if variant == "first_word":
        if full and has_comma and comma_part:
            return comma_part, "full_name_comma_format"
        if full and not has_comma and _trim(words[0]):
            return _trim(words[0]), "full_name_first_word"
        if last_field:
            return last_field, "last_name_field"
    elif variant == "bc":
        if full and has_comma and comma_part:
            return comma_part, "full_name_parsed"
        if last_field:
            return last_field, "last_name_field"
        if full and len(words) >= 2:
            return _trim(words[-1]), "full_name_last_word"
    elif variant == "field_first":
        if last_field:
            return last_field, "last_name_field"
        if full and has_comma:
            return comma_part, "full_name_parsed"
        if full and len(words) >= 2:
            return _trim(words[-1]), "full_name_last_word"
    return "", "not_found"


# -------------------------------------------------------- DL family (V10-23, V44-45)


@dataclass
class DLConfig:
    """Declarative knobs distilled from the per-province validators —
    the files differ only in these constants (e.g. nwt_dl.py vs
    nunavut_dl.py vs yukon_dl.py)."""

    name: str
    display: str
    format_pattern: str
    near_miss: str | None          # "digits:lo:hi" | "len:N:alpha" | "len:N" | None
    fail_age: int
    warn_age_tiers: tuple[int, ...]          # ascending warn thresholds
    name_variant: str | None = None          # first_word | bc | field_first
    first_letter: str | None = None          # "fail" | "warn" | None
    ns_prefix: bool = False
    validity_low: float | None = 1.5
    validity_high: float | None = 6.0
    validity_div: float = 365.25
    expired_check: bool = True
    expiry_warn_60: bool = False             # CA/TX second tier
    issue_check_min_age: int | None = None
    ontario_dob_encoding: bool = False
    bc_prefix_strip: bool = False
    strip_slash: bool = False                # Manitoba strips "/" too
    verifik: bool = False                    # ON/BC registry lookup (disabled path)
    # ---- details-map knobs (each file's details[...] keys; the checks
    # list and key spellings vary per province: license/licence/document)
    d_checks: tuple = ()                     # checks_performed, in order
    d_ln_src: bool = True                    # last_name_source + extracted_last_name
    d_num_key: str | None = None             # CA/TX unconditional license_number
    d_valid_key: str = "licence_number_valid"
    d_digits: str | None = None              # const "6".."9" | "len" | "slice1" | "slice5"
    d_digits_near: bool = False              # licence_digits = len(clean) on near-miss
    d_letter: bool = False                   # QC/NL licence_letter on valid/near
    d_clean_key: str | None = "clean_licence_number"
    d_fl: str | None = None                  # first-letter keys: "ontario"|"std"|"ca"
    d_age_key: str = "calculated_age"        # CA/TX use current_age
    d_age_dob: bool = False                  # CA/TX also emit date_of_birth
    d_bday_both: bool = False                # CA/TX expires_on_birthday true AND false
    d_state: str | None = None               # CA/TX constant details["state"]


DL_CONFIGS: dict[str, DLConfig] = {
    "ontario_drivers_license": DLConfig(
        "ontario_drivers_license", "Ontario DL", r"^[A-Z]\d{4}-\d{5}-\d{5}$",
        "len:15:alpha", 16, (18,), name_variant="first_word",
        first_letter="fail", validity_low=None, validity_high=6.0,
        validity_div=365.0, expired_check=False, issue_check_min_age=None,
        ontario_dob_encoding=True, verifik=True,
        d_checks=("license_number_format", "first_letter_match",
                  "minimum_age_ontario", "expiry_on_birthday",
                  "validity_period", "dob_encoded_in_license",
                  "verifik_api_validation"),
        d_valid_key="license_number_valid", d_clean_key=None, d_fl="ontario",
    ),
    "bc_drivers_license": DLConfig(
        "bc_drivers_license", "BC DL", r"^\d{6,7}$", "digits:5:8",
        16, (17, 19), name_variant="bc", issue_check_min_age=16,
        bc_prefix_strip=True, verifik=True,
        d_checks=("licence_number_format", "minimum_age_bc",
                  "expiry_on_birthday", "validity_period", "expiry_check",
                  "issue_date_check", "verifik_api_validation"),
        d_digits="len", d_digits_near=True,
    ),
    "alberta_drivers_license": DLConfig(
        "alberta_drivers_license", "Alberta DL", r"^\d{9}$", "digits:8:10",
        14, (16, 18), name_variant="first_word", issue_check_min_age=14,
        d_checks=("licence_number_format", "minimum_age_alberta",
                  "expiry_on_birthday", "validity_period", "expiry_check",
                  "issue_date_check"),
        d_digits="9", d_digits_near=True,
    ),
    "quebec_drivers_license": DLConfig(
        "quebec_drivers_license", "Quebec DL", r"^[A-Z]\d{12}$", "len:13:alpha",
        16, (18,), name_variant="first_word", first_letter="fail",
        validity_low=3.5, validity_high=8.5, issue_check_min_age=16,
        d_checks=("licence_number_format", "first_letter_match",
                  "minimum_age_quebec", "expiry_on_birthday",
                  "validity_period", "expiry_check", "issue_date_check"),
        d_letter=True, d_fl="std",
    ),
    "manitoba_drivers_license": DLConfig(
        "manitoba_drivers_license", "Manitoba DL", r"^\d{9}$", "digits:7:10",
        16, (18,), name_variant="first_word", issue_check_min_age=16,
        strip_slash=True,
        d_checks=("document_number_format", "minimum_age_manitoba",
                  "expiry_on_birthday", "validity_period", "expiry_check",
                  "issue_date_check"),
        d_valid_key="document_number_valid",
        d_clean_key="clean_document_number",
    ),
    "saskatchewan_drivers_license": DLConfig(
        "saskatchewan_drivers_license", "Saskatchewan DL", r"^\d{8}$",
        "digits:7:9", 16, (18,), name_variant="first_word",
        issue_check_min_age=16,
        d_checks=("licence_number_format", "minimum_age_saskatchewan",
                  "expiry_on_birthday", "validity_period", "expiry_check",
                  "issue_date_check"),
        d_digits="8", d_digits_near=True,
    ),
    "nova_scotia_drivers_license": DLConfig(
        "nova_scotia_drivers_license", "Nova Scotia DL", r"^[A-Z]{5}\d{9}$",
        "len:14", 16, (18,), name_variant="first_word", ns_prefix=True,
        issue_check_min_age=16,
        d_checks=("licence_number_format", "surname_prefix_check",
                  "minimum_age_nova_scotia", "expiry_on_birthday",
                  "validity_period", "expiry_check", "issue_date_check"),
        d_digits="slice5",
    ),
    "new_brunswick_drivers_license": DLConfig(
        "new_brunswick_drivers_license", "New Brunswick DL", r"^\d{7}$",
        "digits:6:8", 16, (18,), name_variant="first_word",
        validity_high=5.0, issue_check_min_age=16,
        d_checks=("licence_number_format", "minimum_age_new_brunswick",
                  "expiry_on_birthday", "validity_period", "expiry_check",
                  "issue_date_check"),
        d_digits="7", d_digits_near=True,
    ),
    "pei_drivers_license": DLConfig(
        "pei_drivers_license", "PEI DL", r"^\d{1,6}$", "digits:1:8",
        16, (17,), name_variant="first_word", validity_low=1.0,
        issue_check_min_age=16,
        d_checks=("licence_number_format", "minimum_age_pei",
                  "expiry_on_birthday", "validity_period", "expiry_check",
                  "issue_date_check"),
        d_digits="len", d_digits_near=True,
    ),
    "newfoundland_drivers_license": DLConfig(
        "newfoundland_drivers_license", "Newfoundland DL", r"^[A-Z]\d{9}$",
        "len:10:alpha", 16, (18,), name_variant="first_word",
        first_letter="fail", validity_high=5.0, issue_check_min_age=16,
        d_checks=("licence_number_format", "first_letter_match",
                  "minimum_age_newfoundland", "expiry_on_birthday",
                  "validity_period", "expiry_check", "issue_date_check"),
        d_digits="slice1", d_letter=True, d_fl="std",
    ),
    "nwt_drivers_license": DLConfig(
        "nwt_drivers_license", "NWT DL", r"^\d{6}$", "digits:5:7",
        15, (16, 18), name_variant="first_word", issue_check_min_age=15,
        d_checks=("licence_number_format", "minimum_age_nwt",
                  "expiry_on_birthday", "validity_period", "expiry_check",
                  "issue_date_check"),
        d_digits="6", d_digits_near=True,
    ),
    "nunavut_drivers_license": DLConfig(
        "nunavut_drivers_license", "Nunavut DL", r"^\d{6}$", "digits:5:7",
        15, (16, 18), name_variant="first_word", issue_check_min_age=15,
        d_checks=("licence_number_format", "minimum_age_nunavut",
                  "expiry_on_birthday", "validity_period", "expiry_check",
                  "issue_date_check"),
        d_digits="6", d_digits_near=True,
    ),
    "yukon_drivers_license": DLConfig(
        "yukon_drivers_license", "Yukon DL", r"^\d{6}$", "digits:5:7",
        15, (16, 18), name_variant="first_word", issue_check_min_age=15,
        d_checks=("licence_number_format", "minimum_age_yukon",
                  "expiry_on_birthday", "validity_period", "expiry_check",
                  "issue_date_check"),
        d_digits="6", d_digits_near=True,
    ),
    "california_drivers_license": DLConfig(
        "california_drivers_license", "California DL", r"^[A-Z]\d{7}$", None,
        16, (18,), name_variant="field_first", first_letter="warn",
        validity_low=4.0, validity_high=6.0, expiry_warn_60=True,
        issue_check_min_age=None,
        d_checks=("license_number_format", "first_letter_check", "age_check",
                  "expiry_check", "expiry_on_birthday", "validity_period"),
        d_ln_src=False, d_num_key="license_number",
        d_valid_key="format_valid", d_clean_key=None, d_fl="ca",
        d_age_key="current_age", d_age_dob=True, d_bday_both=True,
        d_state="California",
    ),
    "texas_drivers_license": DLConfig(
        "texas_drivers_license", "Texas DL", r"^\d{8}$", None,
        16, (18,), name_variant="field_first",
        validity_low=5.0, validity_high=8.5, expiry_warn_60=True,
        issue_check_min_age=None,
        d_checks=("license_number_format", "age_check", "expiry_check",
                  "expiry_on_birthday", "validity_period"),
        d_ln_src=False, d_num_key="license_number",
        d_valid_key="format_valid", d_clean_key=None,
        d_age_key="current_age", d_age_dob=True, d_bday_both=True,
        d_state="Texas",
    ),
}


# Byte-exact message constants transcribed from the per-province
# validators (these strings ARE the response contract; file:line cited
# per family below). Shapes:
#   missing            -> used verbatim
#   fmt_prefix + raw   -> format-invalid issue
#   near: w3 present   -> w1 + raw + w2 + len(clean) + w3   (digit-count shape)
#         w3 absent    -> w1 + raw + w2                     (ON/QC/NS/NL shapes)
#   fl_head + letter + fl_mid + initial + "'" [+ " (from " + src + ")"]
#   noname_head + letter + noname_tail
#   "Person is " + age + age_fail_tail          (underage issue)
#   "Person is " + age + ". " + tierN_tail      (licence-class warning)
#   bday std: "Expiry date (" + MM-dd + ") is not on birthday (" + MM-dd + "). " + bday_tail
#   bday us:  bday_name + " typically expires on birthday. DOB: " + MM/dd + ", Expiry: " + MM/dd
#   "Short validity period (" + v + " years). " + vshort_tail
#   vlong_head + v + vlong_tail
#   expired_head + n + " days ago" / expires_head + n + " days" / soon_head + n + " days)"
#   "Person was " + age + issue_tail            (issue-date minimum age)
_DL_MSG_DEFAULTS = {
    "near_w1": "Licence number '", "near_w2": "' has ", "near_w3": None,
    "fl_head": None, "fl_mid": "' does not match last name initial '",
    "fl_src": False, "noname_head": None, "noname_tail": "",
    "tier2_tail": None, "bday_std": True, "bday_name": "",
    "vshort_tail": "May be a learner licence.",
    "vlong_head": "Validity period (",
    "expired_head": "Licence expired ", "expires_head": "Licence expires in ",
    "soon_head": None, "issue_tail": None, "missing": "Missing licence number",
}

DL_MSGS: dict[str, dict] = {
    # ontario_dl.py:82-125,139,154,234-255
    "ontario_drivers_license": {
        "fail_header": "Ontario DL validation failed",
        "warn_full": "Ontario DL validation passed with warnings",
        "pass_full": "Ontario Driver's License validation passed",
        "missing": "Missing license number",
        "fmt_prefix": "Invalid Ontario DL format. Expected: A1234-12345-12345, Got: ",
        "near_w1": "License number format non-standard but may be valid: ",
        "near_w2": "",
        "fl_head": "License first letter '", "fl_src": True,
        "noname_head": "Cannot verify license letter '",
        "noname_tail": "' - no last name found. Ontario DL format: 'LASTNAME, FIRSTNAME'",
        "age_fail_tail": " years old. Ontario requires minimum 16 for G1 license",
        "tier1_tail": "May only hold G1/G2 license (full G requires 18+)",
        "bday_tail": "Ontario DL typically expires on holder's birthday",
        "vshort_tail": None,
        "vlong_tail": " years) exceeds typical 5-year Ontario DL term",
    },
    # bc_dl.py:103-226,256-277
    "bc_drivers_license": {
        "fail_header": "BC Driver's Licence validation failed",
        "warn_full": "BC Driver's Licence validation passed with warnings",
        "pass_full": "BC Driver's Licence validation passed",
        "fmt_prefix": "Invalid BC licence format. Expected: DL:XXXXXX (6 digits) or 7 digits, Got: ",
        "near_w3": " digits. BC licence typically has 6 digits (DL:XXXXXX) or 7 digits.",
        "age_fail_tail": " years old. BC requires minimum 16 for Class 7L (Learner)",
        "tier1_tail": "Can only hold Class 7L (Learner) licence",
        "tier2_tail": "May hold Class 7 (Novice/N) or Class 7L",
        "bday_tail": "BC DL typically expires on holder's birthday",
        "vshort_tail": "May be a new driver or restricted licence.",
        "vlong_tail": " years) exceeds typical 5-year BC licence term",
        "issue_tail": " at issue date. BC requires minimum 16 for any licence",
    },
    # alberta_dl.py:82-193,201-222
    "alberta_drivers_license": {
        "fail_header": "Alberta Driver's Licence validation failed",
        "warn_full": "Alberta Driver's Licence validation passed with warnings",
        "pass_full": "Alberta Driver's Licence validation passed",
        "fmt_prefix": "Invalid Alberta licence format. Expected: 9 digits (e.g., 123456-789), Got: ",
        "near_w3": " digits. Alberta licence typically has 9 digits (XXXXXX-XXX).",
        "age_fail_tail": " years old. Alberta requires minimum 14 for Class 7 Learner",
        "tier1_tail": "Can only hold Class 7 Learner (GDL) licence",
        "tier2_tail": "Likely holds Class 5 GDL (probationary) licence",
        "bday_tail": "Alberta DL typically expires on holder's birthday",
        "vshort_tail": "May be a learner or probationary licence.",
        "vlong_tail": " years) exceeds typical 5-year Alberta licence term",
        "issue_tail": " at issue date. Alberta requires minimum 14 for any licence",
    },
    # quebec_dl.py:83-214,222-243
    "quebec_drivers_license": {
        "fail_header": "Quebec Driver's Licence validation failed",
        "warn_full": "Quebec Driver's Licence validation passed with warnings",
        "pass_full": "Quebec Driver's Licence validation passed",
        "fmt_prefix": "Invalid Quebec licence format. Expected: Letter + 12 digits (e.g., S1234-567890-12), Got: ",
        "near_w2": "' may have format issues. Quebec licence: Letter + 12 digits (e.g., S1234-567890-12)",
        "fl_head": "Licence first letter '", "fl_src": True,
        "noname_head": "Cannot verify licence letter '",
        "noname_tail": "' - no last name found",
        "age_fail_tail": " years old. Quebec requires minimum 16 for Class 5 Learner",
        "tier1_tail": "May hold probationary licence",
        "bday_tail": "Quebec DL typically expires on holder's birthday",
        "vshort_tail": "May be a probationary or restricted licence.",
        "vlong_tail": " years) exceeds maximum 8-year Quebec licence term",
        "issue_tail": " at issue date. Quebec requires minimum 16 for any licence",
    },
    # manitoba_dl.py:81-187,195-216
    "manitoba_drivers_license": {
        "fail_header": "Manitoba Driver's Licence validation failed",
        "warn_full": "Manitoba Driver's Licence validation passed with warnings",
        "pass_full": "Manitoba Driver's Licence validation passed",
        "missing": "Missing document number (DD/RÉF)",
        "fmt_prefix": "Invalid Manitoba document number format. Expected: 9 digits, Got: ",
        "near_w1": "Document number '",
        "near_w3": " digits. Manitoba DD/RÉF is typically 9 digits.",
        "age_fail_tail": " years old. Manitoba requires minimum 16 for Class 5L Learner",
        "tier1_tail": "May hold Class 5L (Learner) or Class 5I (Intermediate) licence",
        "bday_tail": "Manitoba DL typically expires on holder's birthday",
        "vshort_tail": "May be a learner or intermediate licence.",
        "vlong_tail": " years) exceeds typical 5-year Manitoba licence term",
        "issue_tail": " at issue date. Manitoba requires minimum 16 for any licence",
    },
    # saskatchewan_dl.py:82-189,197-218
    "saskatchewan_drivers_license": {
        "fail_header": "Saskatchewan Driver's Licence validation failed",
        "warn_full": "Saskatchewan Driver's Licence validation passed with warnings",
        "pass_full": "Saskatchewan Driver's Licence validation passed",
        "fmt_prefix": "Invalid Saskatchewan licence format. Expected: 8 digits (e.g., 12345678), Got: ",
        "near_w3": " digits. Saskatchewan licence typically has 8 digits.",
        "age_fail_tail": " years old. Saskatchewan requires minimum 16 for Class 7 Learner",
        "tier1_tail": "May hold Class 7 (Learner) or novice Class 5 licence",
        "bday_tail": "Saskatchewan DL typically expires on holder's birthday",
        "vshort_tail": "May be a learner or novice licence.",
        "vlong_tail": " years) exceeds typical 5-year Saskatchewan licence term",
        "issue_tail": " at issue date. Saskatchewan requires minimum 16 for any licence",
    },
    # nova_scotia_dl.py:88-210,217-238
    "nova_scotia_drivers_license": {
        "fail_header": "Nova Scotia Driver's Licence validation failed",
        "warn_full": "Nova Scotia Driver's Licence validation passed with warnings",
        "pass_full": "Nova Scotia Driver's Licence validation passed",
        "fmt_prefix": "Invalid Nova Scotia licence format. Expected: 5 letters + 9 digits, Got: ",
        "near_w2": "' may have format issues. Nova Scotia licence: 5 letters + 9 digits (e.g., SMITH123456789)",
        "age_fail_tail": " years old. Nova Scotia requires minimum 16 for Class 7 Learner",
        "tier1_tail": "May hold Class 7 (Graduated) licence",
        "bday_tail": "Nova Scotia DL typically expires on holder's birthday",
        "vshort_tail": "May be a learner or graduated licence.",
        "vlong_tail": " years) exceeds typical 5-year Nova Scotia licence term",
        "issue_tail": " at issue date. Nova Scotia requires minimum 16 for any licence",
    },
    # new_brunswick_dl.py:77-183,190-211
    "new_brunswick_drivers_license": {
        "fail_header": "New Brunswick Driver's Licence validation failed",
        "warn_full": "New Brunswick Driver's Licence validation passed with warnings",
        "pass_full": "New Brunswick Driver's Licence validation passed",
        "fmt_prefix": "Invalid New Brunswick licence format. Expected: 7 digits (e.g., 1234567), Got: ",
        "near_w3": " digits. New Brunswick licence typically has 7 digits.",
        "age_fail_tail": " years old. New Brunswick requires minimum 16 for Class 7 Learner",
        "tier1_tail": "May hold Class 7 (Learner) licence with restrictions",
        "bday_tail": "New Brunswick DL typically expires on holder's birthday",
        "vlong_tail": " years) exceeds typical 4-year New Brunswick licence term",
        "issue_tail": " at issue date. New Brunswick requires minimum 16 for any licence",
    },
    # pei_dl.py:77-183,190-211
    "pei_drivers_license": {
        "fail_header": "PEI Driver's Licence validation failed",
        "warn_full": "PEI Driver's Licence validation passed with warnings",
        "pass_full": "PEI Driver's Licence validation passed",
        "fmt_prefix": "Invalid PEI licence format. Expected: 1-6 digits, Got: ",
        "near_w3": " digits. PEI licence typically has 1-6 digits.",
        "age_fail_tail": " years old. PEI requires minimum 16 for Class 7 Learner",
        "tier1_tail": "Holds Class 7 (Learner) licence",
        "bday_tail": "PEI DL typically expires on holder's birthday",
        "vlong_tail": " years) exceeds typical 5-year PEI licence term",
        "issue_tail": " at issue date. PEI requires minimum 16 for any licence",
    },
    # newfoundland_dl.py:83-206,misc footer
    "newfoundland_drivers_license": {
        "fail_header": "Newfoundland Driver's Licence validation failed",
        "warn_full": "Newfoundland Driver's Licence validation passed with warnings",
        "pass_full": "Newfoundland Driver's Licence validation passed",
        "fmt_prefix": "Invalid Newfoundland licence format. Expected: Letter + 9 digits (e.g., A123456789), Got: ",
        "near_w2": "' may have format issues. Newfoundland licence: Letter + 9 digits (e.g., A123456789)",
        "fl_head": "Licence first letter '", "fl_src": True,
        "noname_head": "Cannot verify licence letter '",
        "noname_tail": "' - no last name found",
        "age_fail_tail": " years old. Newfoundland requires minimum 16 for Class 7 Learner",
        "tier1_tail": "May hold Class 7 (Learner) licence",
        "bday_tail": "Newfoundland DL typically expires on holder's birthday",
        "vlong_tail": " years) exceeds typical 4-year Newfoundland licence term",
        "issue_tail": " at issue date. Newfoundland requires minimum 16 for any licence",
    },
    # nwt_dl.py:82-187
    "nwt_drivers_license": {
        "fail_header": "NWT Driver's Licence validation failed",
        "warn_full": "NWT Driver's Licence validation passed with warnings",
        "pass_full": "NWT Driver's Licence validation passed",
        "fmt_prefix": "Invalid NWT licence format. Expected: 6 digits (e.g., 123456), Got: ",
        "near_w3": " digits. NWT licence typically has 6 digits.",
        "age_fail_tail": " years old. NWT requires minimum 15 for Class 7 Learner",
        "tier1_tail": "Holds Class 7 (Learner) licence",
        "tier2_tail": "May hold Class 7 or novice Class 5 licence",
        "bday_tail": "NWT DL typically expires on holder's birthday",
        "vlong_tail": " years) exceeds typical 5-year NWT licence term",
        "issue_tail": " at issue date. NWT requires minimum 15 for any licence",
    },
    # nunavut_dl.py:83-188
    "nunavut_drivers_license": {
        "fail_header": "Nunavut Driver's Licence validation failed",
        "warn_full": "Nunavut Driver's Licence validation passed with warnings",
        "pass_full": "Nunavut Driver's Licence validation passed",
        "fmt_prefix": "Invalid Nunavut licence format. Expected: 6 digits (e.g., 123456), Got: ",
        "near_w3": " digits. Nunavut licence typically has 6 digits.",
        "age_fail_tail": " years old. Nunavut requires minimum 15 for Class 7 Learner",
        "tier1_tail": "Holds Class 7 (Learner) licence",
        "tier2_tail": "May hold Class 7 or novice Class 5 licence",
        "bday_tail": "Nunavut DL typically expires on holder's birthday",
        "vlong_tail": " years) exceeds typical 5-year Nunavut licence term",
        "issue_tail": " at issue date. Nunavut requires minimum 15 for any licence",
    },
    # yukon_dl.py:82-187
    "yukon_drivers_license": {
        "fail_header": "Yukon Driver's Licence validation failed",
        "warn_full": "Yukon Driver's Licence validation passed with warnings",
        "pass_full": "Yukon Driver's Licence validation passed",
        "fmt_prefix": "Invalid Yukon licence format. Expected: 6 digits (e.g., 123456), Got: ",
        "near_w3": " digits. Yukon licence typically has 6 digits.",
        "age_fail_tail": " years old. Yukon requires minimum 15 for Class 7 Learner",
        "tier1_tail": "Holds Class 7 (Learner) licence (requires parental consent)",
        "tier2_tail": "May hold Class 7 or novice Class 5 licence",
        "bday_tail": "Yukon DL typically expires on holder's birthday",
        "vlong_tail": " years) exceeds typical 5-year Yukon licence term",
        "issue_tail": " at issue date. Yukon requires minimum 15 for any licence",
    },
    # california_dl.py:62-149,156-170
    "california_drivers_license": {
        "fail_header": "California DL validation failed",
        "warn_full": "California DL validation passed with warnings",
        "pass_full": "California DL validation passed",
        "missing": "Missing license number",
        "fmt_prefix": "Invalid California DL format. Expected: 1 letter + 7 digits (e.g., A1234567), Got: ",
        "fl_head": "License first letter '",
        "fl_mid": "' doesn't match last name initial '",
        "age_fail_tail": " years old. Minimum age for California learner's permit is 16",
        "tier1_tail": "Provisional license restrictions may apply",
        "bday_std": False, "bday_name": "California DL", "bday_tail": "",
        "vshort_tail": "Standard is 5 years",
        "vlong_head": "Long validity period (",
        "vlong_tail": " years). Standard is 5 years",
        "expired_head": "California DL expired ",
        "expires_head": "California DL expires in ",
        "soon_head": "California DL expires soon (",
    },
    # texas_dl.py:61-131,138-152
    "texas_drivers_license": {
        "fail_header": "Texas DL validation failed",
        "warn_full": "Texas DL validation passed with warnings",
        "pass_full": "Texas DL validation passed",
        "missing": "Missing license number",
        "fmt_prefix": "Invalid Texas DL format. Expected: 8 digits (e.g., 12345678), Got: ",
        "age_fail_tail": " years old. Minimum age for Texas learner's permit is 16",
        "tier1_tail": "Provisional license restrictions may apply",
        "bday_std": False, "bday_name": "Texas DL", "bday_tail": "",
        "vshort_tail": "Standard is 6 years",
        "vlong_head": "Long validity period (",
        "vlong_tail": " years). Standard is 6-8 years",
        "expired_head": "Texas DL expired ",
        "expires_head": "Texas DL expires in ",
        "soon_head": "Texas DL expires soon (",
    },
}


def _parse_near(spec: str | None) -> tuple[str | None, int | None, int | None]:
    if spec is None:
        return None, None, None
    parts = spec.split(":")
    if parts[0] == "digits":
        return "digits", int(parts[1]), int(parts[2])
    if parts[0] == "len" and len(parts) == 3:
        return "len_alpha", int(parts[1]), None
    return "len", int(parts[1]), None


# each province's complete message table (defaults + its overrides)
_DL_M = {name: {**_DL_MSG_DEFAULTS, **msgs} for name, msgs in DL_MSGS.items()}


def _near_ok(kind: str | None, lo: int | None, hi: int | None, clean: str) -> bool:
    """Near-miss number shapes shared by the DL and passport families."""
    n = len(clean)
    if kind == "digits":
        return _rlike(clean, r"^\d+$") and lo <= n <= hi
    if kind == "len_alpha":
        return n == lo and _rlike(clean[:1], "[A-Z]")
    if kind == "len":
        return n == lo
    if kind == "france":
        return _rlike(clean, r"^[A-Z0-9]{9}$")
    if kind == "len_egd":
        return n == lo and clean[:1] in ("E", "G", "D")
    if kind == "len89_alpha2":
        return n in (8, 9) and _rlike(clean[:2], r"^[A-Z]{2}$")
    if kind == "len_alpha2":
        return n == lo and _rlike(clean[:2], r"^[A-Z]{2}$")
    if kind == "minlen_alpha":
        return n >= lo and _rlike(clean[:1], "[A-Z]")
    return False


def _dl(c: DLConfig, r: dict) -> dict:
    """One parametrized DL validator over a config row — the single-copy
    form of the 15 per-province validators (SURVEY.md §2.5 V10-V23/
    V44-V45; the per-file logic differs only in the constants carried by
    ``c`` and its DL_MSGS entry)."""
    m = _DL_M[c.name]
    run, dob, issue_d, exp = r["run"], r["dob"], r["issue"], r["exp"]
    raw = _trim(_s(r["document_number"])).upper()
    # NDL:/NDL/DL:/DL prefix strip for BC (bc_dl.py:74-96); Manitoba also
    # strips "/" (manitoba_dl.py:70-76); default strips spaces/dashes.
    if c.bc_prefix_strip and raw.startswith(("NDL", "DL")):
        cut = 4 if raw.startswith("NDL:") else 3 if raw.startswith(("NDL", "DL:")) else 2
        clean = _trim(raw[cut:cut + 100])
    elif c.strip_slash:
        clean = _SEP_SLASH.sub("", raw)
    else:
        clean = _SEP.sub("", raw)
    # messages interpolate the document number as given, not the
    # upper-trimmed working copy (e.g. ontario_dl.py:89 "Got: {number}")
    disp = _s(r["document_number"])
    last_name, name_src = _last_name(r, c.name_variant)
    has_dob = dob is not None
    age = _age(run, dob) if has_dob else None
    tiers = c.warn_age_tiers
    tier1 = tiers[0] if tiers else None
    tier2 = tiers[1] if len(tiers) > 1 else None

    issues: list = []
    warnings: list = []

    # check 1: number format. The pattern is evaluated against the raw
    # upper-trimmed number AND the stripped one — the Ontario pattern
    # requires its hyphens (ontario_dl.py:79 matches the un-stripped
    # number), every other config's digits-only pattern matches the
    # stripped form.
    fmt_ok = _rlike(raw, c.format_pattern) or _rlike(clean, c.format_pattern)
    near = _near_ok(*_parse_near(c.near_miss), clean)
    _iw(issues, clean == "", m["missing"])
    _iw(issues, clean != "" and not fmt_ok and not near, lambda: _cat(m["fmt_prefix"], disp))
    # near-miss warning: digit-count shape when near_w3 is set
    # (bc_dl.py:111-114), free shape otherwise (ontario_dl.py:87,
    # quebec_dl.py:89-92)
    _iw(warnings, clean != "" and not fmt_ok and near, lambda: (
        _cat(m["near_w1"], disp, m["near_w2"], str(len(clean)), m["near_w3"])
        if m["near_w3"] is not None else _cat(m["near_w1"], disp, m["near_w2"])))

    # first-letter / NS-prefix name checks; the reference compares
    # clean_number[0] unconditionally once the number is non-empty
    # (ontario_dl.py:95-114) — no alpha gate
    letter = clean[:1]
    ln_initial = last_name[:1].upper()
    if c.first_letter is not None and clean != "":
        if last_name != "" and letter != ln_initial:
            fl_msg = _cat(m["fl_head"], letter, m["fl_mid"], ln_initial, "'",
                          f" (from {name_src})" if m["fl_src"] else "")
            _iw(issues, c.first_letter == "fail", fl_msg)
            _iw(warnings, c.first_letter == "warn", fl_msg)
        _iw(warnings, last_name == "" and m["noname_head"] is not None,
            lambda: _cat(m["noname_head"], letter, m["noname_tail"]))
    # surname -> 5-letter X-padded prefix; warn on first-letter mismatch
    # only (nova_scotia_dl.py:51-60,106-120)
    expected = _NON_AZ.sub("", last_name.upper())[:5].ljust(5, "X")
    ns_gate = c.ns_prefix and clean != "" and len(clean) >= 5 and last_name != ""
    _iw(warnings, ns_gate and clean[:1] != expected[:1],
        lambda: f"Licence prefix '{clean[:5]}' may not match surname '{last_name}'")

    # minimum-age tiers
    if has_dob:
        _iw(issues, age < c.fail_age, lambda: _cat(f"Person is {age}", m["age_fail_tail"]))
        _iw(warnings, tier1 is not None and c.fail_age <= age < tier1,
            lambda: _cat(f"Person is {age}. ", m["tier1_tail"]))
        _iw(warnings, tier2 is not None and tier1 <= age < tier2,
            lambda: _cat(f"Person is {age}. ", m["tier2_tail"]))

    # expiry-on-birthday (warn). Two shapes: the Canadian "Expiry date
    # (MM-dd) is not on birthday (MM-dd). ..." (ontario_dl.py:139-142)
    # and the CA/TX "X typically expires on birthday. DOB: MM/dd,
    # Expiry: MM/dd" (california_dl.py:130-133).
    bday_known = has_dob and exp is not None
    bday_match = bday_known and _mmdd(dob, "-") == _mmdd(exp, "-")
    _iw(warnings, bday_known and not bday_match, lambda: (
        _cat(f"Expiry date ({_mmdd(exp, '-')}) is not on birthday ({_mmdd(dob, '-')}). ",
             m["bday_tail"])
        if m["bday_std"] else
        _cat(m["bday_name"], " typically expires on birthday. DOB: ", _mmdd(dob, "/"),
             ", Expiry: ", _mmdd(exp, "/"))))

    # validity window (warn); {validity_years:.1f} — ties are unreachable
    # (validity is days/365[.25], never an exact multiple of 0.05)
    has_validity = issue_d is not None and exp is not None
    validity = (exp - issue_d) / c.validity_div if has_validity else None
    if has_validity:
        v1 = _f1(validity)
        _iw(warnings, c.validity_low is not None and validity < c.validity_low,
            lambda: _cat(f"Short validity period ({v1} years). ", m["vshort_tail"]))
        _iw(warnings, c.validity_high is not None and validity > c.validity_high,
            lambda: _cat(m["vlong_head"], v1, m["vlong_tail"]))

    # expired check
    days = exp - run if exp is not None else None
    if c.expired_check and exp is not None:
        _iw(issues, exp < run, lambda: _cat(m["expired_head"], f"{-days} days ago"))
        _iw(warnings, exp >= run and days < 30,
            lambda: _cat(m["expires_head"], f"{days} days"))
        _iw(warnings, c.expiry_warn_60 and exp >= run and 30 <= days < 60,
            lambda: _cat(m["soon_head"], f"{days} days)"))

    # issue-date sanity
    age_at_issue = _age(issue_d, dob) if has_dob and issue_d is not None else None
    if c.issue_check_min_age is not None and issue_d is not None:
        _iw(issues, issue_d > run, "Issue date cannot be in the future")
        if has_dob:
            _iw(issues, issue_d < dob, "Issue date cannot be before date of birth")
            _iw(issues, issue_d >= dob and age_at_issue < c.issue_check_min_age,
                lambda: _cat(f"Person was {age_at_issue}", m["issue_tail"]))

    # Ontario DOB-in-number encoding (ontario_dl.py:156-202)
    checkable = c.ontario_dob_encoding and clean != "" and has_dob
    if checkable:
        last6 = _SEP.sub("", clean)[-6:]
        y, mo, d = _ymd(dob)
        male = f"{abs(y) % 100:02d}{mo:02d}{d:02d}"
        female = f"{abs(y) % 100:02d}{mo + 50}{d:02d}"
        gender = _trim(_s(r["gender"])).upper()
        _iw(issues, last6 not in (male, female),
            f"Last 6 digits of license '{last6}' do not match DOB encoding. Expected "
            f"'{male}' (male) or '{female}' (female with month +50)")
        _iw(warnings, last6 == male and gender in ("F", "FEMALE"),
            f"License uses male DOB encoding but gender is '{gender}'. Expected "
            "female encoding with month +50.")
        _iw(warnings, last6 == female and gender in ("M", "MALE"),
            f"License uses female DOB encoding (month +50) but gender is '{gender}'.")

    # ---- details map (each province's details[...] sites; conditions
    # mirror the reference's per-check blocks, e.g. alberta_dl.py:62-188,
    # bc_dl.py:62-248, ontario_dl.py:66-226, california_dl.py:54-143)
    valid = clean != "" and fmt_ok
    near_cond = clean != "" and not fmt_ok and near
    spec = c.d_digits
    digits = (
        str(len(clean)) if valid and spec == "len"
        else clean[1:65] if valid and spec == "slice1"
        else clean[5:69] if valid and spec == "slice5"
        else spec if valid and spec is not None and _rlike(spec, "^[0-9]+$")
        else str(len(clean)) if near_cond and c.d_digits_near
        else None
    )
    # BC NDL:/DL: prefix detection flags (bc_dl.py:74-96)
    is_ndl = c.bc_prefix_strip and raw.startswith("NDL")
    is_dl = c.bc_prefix_strip and not is_ndl and raw.startswith("DL")
    neither = c.bc_prefix_strip and not is_ndl and not is_dl
    # first-letter keys: ontario_dl.py:95-110 (no alpha gate, "license_"
    # spelling), quebec_dl.py:104-118 / newfoundland ("licence_",
    # alpha-gated), california_dl.py:73-86 (alpha + last-name gated,
    # adds name_extraction_source)
    letter_alpha = _rlike(letter, "^[A-Z]$")
    fl_gate = clean != "" and (
        c.d_fl == "ontario"
        or (c.d_fl == "std" and letter_alpha)
        or (c.d_fl == "ca" and letter_alpha and last_name != "")
    )
    fl_key = "license_first_letter" if c.d_fl in ("ontario", "ca") else "licence_first_letter"
    issue_key = (c.issue_check_min_age is not None and issue_d is not None
                 and issue_d <= run and has_dob and issue_d >= dob)
    encoded = checkable and last6 in (male, female)
    details = _dmap(
        ("checks_performed", "; ".join(c.d_checks)),
        ("state", c.d_state),
        ("last_name_source", name_src if c.d_ln_src else None),
        ("extracted_last_name", last_name if c.d_ln_src and last_name != "" else None),
        (c.d_num_key, clean),
        ("has_ndl_prefix", _b(is_ndl) if is_ndl or neither else None),
        ("has_dl_prefix", _b(is_dl) if is_dl or neither else None),
        ("prefix_type", ("NDL" if is_ndl else "DL") if is_ndl or is_dl else None),
        (c.d_valid_key, _t(valid)),
        ("licence_letter", clean[:1] if c.d_letter and (valid or near_cond) else None),
        ("licence_digits", digits),
        (c.d_clean_key, clean),
        ("licence_prefix", clean[:5] if (c.ns_prefix and valid) or ns_gate else None),
        ("expected_prefix", expected if ns_gate else None),
        ("prefix_matches_surname", _t(ns_gate and clean[:1] == expected[:1])),
        (fl_key, letter if fl_gate else None),
        ("last_name_initial", ln_initial if fl_gate and last_name != "" else None),
        ("name_extraction_source", name_src if c.d_fl == "ca" and fl_gate else None),
        ("first_letter_matches", _t(fl_gate and last_name != "" and letter == ln_initial)),
        (c.d_age_key, str(age) if has_dob else None),
        ("date_of_birth", _iso(dob) if c.d_age_dob and has_dob else None),
        ("expiry_on_birthday", _t(not c.d_bday_both and bday_match)),
        ("expires_on_birthday", _b(bday_match) if c.d_bday_both and bday_known else None),
        ("validity_years", _f1(validity) if has_validity else None),
        ("days_until_expiry",
         str(days) if c.expired_check and exp is not None and days >= 0 else None),
        ("age_at_issue", str(age_at_issue) if issue_key else None),
        ("license_last_6", last6 if checkable else None),
        ("expected_dob_male", male if checkable else None),
        ("expected_dob_female", female if checkable else None),
        ("document_gender", (gender or "not_provided") if checkable else None),
        ("dob_encoded_in_license", _t(encoded)),
        ("detected_encoding", ("male" if last6 == male else "female") if encoded else None),
        # Verifik registry lookup — disabled default (config.py:7;
        # ontario_dl.py:223-226, bc_dl.py:245-248)
        ("verifik_api_enabled", "false" if c.verifik else None),
        ("verifik_api_skipped_reason",
         "local_validation_failed" if c.verifik and issues else None),
    )
    return _typed(c.name, issues, warnings, m["fail_header"], m["warn_full"],
                  m["pass_full"], details)


# ----------------------------------------------------- passports (V30-41)


@dataclass
class PassportConfig:
    name: str
    display: str
    country_code: str
    format_pattern: str
    near_miss: str | None          # as DLConfig, plus "france" special
    child_age: int | None          # age_at_issue threshold; None = no tiers
    child_window: tuple[float, float] | None
    adult_window: tuple[float, float] = (9.5, 10.5)
    no_age_fallback: bool = False  # warn when neither window matches
    fixed_window_only: bool = False  # colombia: adult window always
    always_window: bool = False    # nigeria: either window, no age check
    invalid_letters: str | None = None  # germany
    # country-specific tail of the invalid-characters issue message
    # (germany_passport.py:66-68) — lives here so a future config with
    # invalid letters doesn't inherit the Germany wording
    invalid_letters_msg: str | None = None
    # ---- details-map knobs
    d_prefix: int | None = None    # passport_prefix = clean[:n] on valid
    d_china_type: bool = False     # passport_type from E/G/D prefix
    d_validity_key: str = "validity_matches_age"  # or "validity_valid"
    d_country: str = ""            # constant details["country"] initializer
    # ---- byte-exact warning tails (now part of the details contract:
    # the "; "-joined warnings copy). Shapes in _pp_body.
    w_near: str | None = None      # near-miss tail (digits- or desc-shape)
    w_child_head: str | None = None  # "Child passport "/"Minor passport "/
    #                                  "Passport "; None -> no-age shape
    w_child_tail: str = ""
    w_adult_tail: str = ""
    w_window_tail: str | None = None  # no-age / always / fixed window tail


PASSPORT_CONFIGS: dict[str, PassportConfig] = {
    "us_passport": PassportConfig(
        "us_passport", "US Passport", "USA", r"^\d{9}$", "digits:8:10",
        16, (4.5, 5.5), d_country="United States",
        w_near="US passport numbers are typically 9 digits.",
        w_child_head="Child passport ",
        w_child_tail="Expected ~5 years for applicants under 16.",
        w_adult_tail="Expected ~10 years for applicants 16+."),
    "uk_passport": PassportConfig(
        "uk_passport", "UK Passport", "GBR", r"^\d{9}$", "digits:8:10",
        16, (4.5, 5.5), d_country="United Kingdom",
        w_near="UK passport numbers are typically 9 digits.",
        w_child_head="Child passport ",
        w_child_tail="Expected ~5 years for applicants under 16.",
        w_adult_tail="Expected ~10 years for applicants 16+."),
    "india_passport": PassportConfig(
        "india_passport", "India Passport", "IND", r"^[A-Z]\d{7}$", "len:8:alpha",
        18, (4.5, 5.5), d_prefix=1, d_country="India",
        w_near="India passport: 1 letter + 7 digits (e.g., A1234567)",
        w_child_head="Minor passport ",
        w_child_tail="Expected ~5 years for applicants under 18.",
        w_adult_tail="Expected ~10 years for applicants 18+."),
    "australia_passport": PassportConfig(
        "australia_passport", "Australia Passport", "AUS", r"^[A-Z]{1,2}\d{7}$",
        "minlen:8:alpha", 16, (4.5, 5.5), d_country="Australia",
        w_near="Australia passport: 1-2 letters + 7 digits (e.g., N1234567)",
        w_child_head="Child passport ",
        w_child_tail="Expected ~5 years for applicants under 16.",
        w_adult_tail="Expected ~10 years for applicants 16+."),
    "germany_passport": PassportConfig(
        "germany_passport", "Germany Passport", "DEU", r"^[A-Z0-9]{9}$", None,
        24, (5.5, 6.5), invalid_letters="IOQS",
        invalid_letters_msg=". German passports do not use letters I, O, Q, S.", d_country="Germany",
        w_child_head="Passport ",
        w_child_tail="Expected ~6 years for applicants under 24.",
        w_adult_tail="Expected ~10 years for applicants 24+."),
    "france_passport": PassportConfig(
        "france_passport", "France Passport", "FRA", r"^\d{2}[A-Z]{2}\d{5}$",
        "france", 18, (4.5, 5.5), d_country="France",
        w_child_head="Minor passport ",
        w_child_tail="Expected ~5 years for applicants under 18.",
        w_adult_tail="Expected ~10 years for applicants 18+."),
    "nigeria_passport": PassportConfig(
        "nigeria_passport", "Nigeria Passport", "NGA", r"^[A-Z]\d{8}$", "len:9:alpha",
        None, (4.5, 5.5), always_window=True, d_prefix=1,
        d_validity_key="validity_valid", d_country="Nigeria",
        w_near="Nigeria passport: 1 letter + 8 digits (e.g., A12345678)",
        w_window_tail="Nigeria passports are typically 5 years (32-page) or 10 years (64-page)."),
    "china_passport": PassportConfig(
        "china_passport", "China Passport", "CHN", r"^[EGD]\d{8}$", "len:9:egd",
        16, (4.5, 5.5), no_age_fallback=True, d_prefix=1, d_china_type=True,
        d_validity_key="validity_valid", d_country="China",
        w_near="China passport: E/G/D + 8 digits (e.g., E12345678)",
        w_child_tail="China passports for minors (under 16) are typically valid for 5 years.",
        w_adult_tail="China passports for adults (16+) are typically valid for 10 years.",
        w_window_tail="China passports are typically 5 years (minors) or 10 years (adults)."),
    "colombia_passport": PassportConfig(
        "colombia_passport", "Colombia Passport", "COL", r"^[A-Z]{2}\d{6,7}$",
        "len89:alpha2", None, None, fixed_window_only=True, d_prefix=2,
        d_validity_key="validity_valid", d_country="Colombia",
        w_near="Colombia passport: 2 letters + 6-7 digits (e.g., AZ573250)",
        w_window_tail="Colombia passports are typically valid for 10 years."),
    "ukraine_passport": PassportConfig(
        "ukraine_passport", "Ukraine Passport", "UKR", r"^[A-Z]{2}\d{6}$",
        "len:8:alpha2", 18, (3.5, 4.5), no_age_fallback=True, d_prefix=2,
        d_validity_key="validity_valid", d_country="Ukraine",
        w_near="Ukraine passport: 2 letters + 6 digits (e.g., AA123456)",
        w_child_tail="Ukraine passports for minors (under 18) are typically valid for 4 years.",
        w_adult_tail="Ukraine passports for adults (18+) are typically valid for 10 years.",
        w_window_tail="Ukraine passports are typically 4 years (minors) or 10 years (adults)."),
}


# Byte-exact format-failure prefixes (each file's "Invalid X passport
# format. Expected: ..., Got: {document_number}" wording; file:line in
# the greps cited on DL_MSGS). The raw document number as given is
# appended.
PP_FMT_PREFIX: dict[str, str] = {
    "us_passport": "Invalid US passport format. Expected: 9 digits, Got: ",
    "uk_passport": "Invalid UK passport format. Expected: 9 digits, Got: ",
    "india_passport": (
        "Invalid India passport format. Expected: 1 letter + 7 digits (e.g., A1234567), Got: "
    ),
    "australia_passport": (
        "Invalid Australia passport format. Expected: 1-2 letters + 7 digits, Got: "
    ),
    "germany_passport": (
        "Invalid Germany passport format. Expected: 9 alphanumeric characters, Got: "
    ),
    "france_passport": (
        "Invalid France passport format. Expected: 9 characters (e.g., 12AB34567), Got: "
    ),
    "nigeria_passport": (
        "Invalid Nigeria passport format. Expected: 1 letter + 8 digits (e.g., A12345678), Got: "
    ),
    "china_passport": (
        "Invalid China passport format. Expected: E/G/D + 8 digits (e.g., E12345678), Got: "
    ),
    "colombia_passport": (
        "Invalid Colombia passport format. Expected: 2 letters + 6-7 digits (e.g., AZ573250), Got: "
    ),
    "ukraine_passport": (
        "Invalid Ukraine passport format. Expected: 2 letters + 6 digits (e.g., AA123456), Got: "
    ),
}


def _parse_pp_near(spec: str | None) -> tuple[str | None, int | None, int | None]:
    if spec is None:
        return None, None, None
    if spec == "france":
        return "france", None, None
    if spec == "len89:alpha2":
        return "len89_alpha2", None, None
    parts = spec.split(":")
    if parts[0] == "digits":
        return "digits", int(parts[1]), int(parts[2])
    if parts[0] == "minlen":
        return "minlen_alpha", int(parts[1]), None
    # len:N:egd | len:N:alpha2 | len:N:alpha
    return f"len_{parts[2]}", int(parts[1]), None


def _passport(c: PassportConfig, r: dict) -> dict:
    """One parametrized national-passport validator (V31-V40) over a
    config row."""
    run, dob, issue_d, exp = r["run"], r["dob"], r["issue"], r["exp"]
    cc = _trim(_s(r["country_code"])).upper()
    # messages interpolate the number exactly as given (e.g.
    # us_passport.py:61 "Got: {document_number}")
    disp = _s(r["document_number"])
    clean = _SEP.sub("", _trim(disp).upper())
    kind, lo, hi = _parse_pp_near(c.near_miss)
    issues: list = []
    warnings: list = []

    # country-code check -> WARNING on mismatch (us_passport.py:36-43)
    _iw(warnings, cc != "" and cc != c.country_code,
        lambda: f"Country code '{cc}' does not match expected '{c.country_code}'")

    fmt_ok = _rlike(clean, c.format_pattern)
    near = _near_ok(kind, lo, hi, clean)
    has_inv = c.invalid_letters is not None
    bad = [ch for ch in clean if ch in c.invalid_letters] if has_inv else []
    _iw(issues, clean == "", "Missing passport number")
    if clean != "":
        _iw(issues, has_inv and fmt_ok and bad, lambda: _cat(
            "Passport number contains invalid characters: ", ", ".join(bad),
            c.invalid_letters_msg))
        _iw(issues, not fmt_ok and (has_inv or not near),
            lambda: _cat(PP_FMT_PREFIX[c.name], disp))
        # near-miss warning, three byte-exact shapes: digit-count
        # (us_passport.py:55-58), description (india_passport.py:56-59),
        # France's accepted-fallback (france_passport.py:63-66)
        _iw(warnings, not has_inv and not fmt_ok and near, lambda: (
            _cat(f"Passport number '{disp}' has {len(clean)} digits. ", c.w_near)
            if kind == "digits" else
            f"Passport number '{disp}' accepted but may not match standard French"
            " format (2 digits + 2 letters + 5 digits)." if kind == "france" else
            _cat(f"Passport number '{disp}' may have format issues. ", c.w_near)))

    has_age = dob is not None and issue_d is not None
    age_at_issue = _age(issue_d, dob) if has_age else None
    _iw(issues, has_age and issue_d < dob, "Issue date cannot be before date of birth")

    # byte-exact validity warnings. Age-interpolating shape
    # (us_passport.py:94-104 and siblings) when w_child_head is set;
    # "Passport has X year validity." shape otherwise
    # (china_passport.py:109-120); no-age/always/fixed window shape
    # shares the latter with w_window_tail (nigeria :95-98, colombia
    # :95-98, china :127-129).
    has_validity = issue_d is not None and exp is not None
    validity = (exp - issue_d) / 365.25 if has_validity else None
    in_adult = has_validity and c.adult_window[0] <= validity <= c.adult_window[1]
    in_child = (has_validity and c.child_window is not None
                and c.child_window[0] <= validity <= c.child_window[1])
    tiered = not c.fixed_window_only and not c.always_window
    if has_validity:
        v1 = _f1(validity)
        head = f"Passport has {v1} year validity. "

        def aged(who: str, tail: str | None) -> str | None:
            return _cat(who, f"(age {age_at_issue} at issue) has {v1} year validity. ", tail)

        _iw(warnings, c.fixed_window_only and not in_adult, lambda: _cat(head, c.w_window_tail))
        _iw(warnings, c.always_window and not in_child and not in_adult,
            lambda: _cat(head, c.w_window_tail))
        if tiered and has_age:
            child = age_at_issue < c.child_age
            _iw(warnings, child and not in_child, lambda: (
                aged(c.w_child_head, c.w_child_tail) if c.w_child_head is not None
                else _cat(head, c.w_child_tail)))
            _iw(warnings, not child and not in_adult, lambda: (
                aged("Adult passport ", c.w_adult_tail) if c.w_child_head is not None
                else _cat(head, c.w_adult_tail)))
        _iw(warnings, tiered and c.no_age_fallback and not has_age
            and not in_child and not in_adult, lambda: _cat(head, c.w_window_tail))

    # expiry: FAIL expired, WARN <180 days
    days = exp - run if exp is not None else None
    if exp is not None:
        _iw(issues, exp < run, lambda: f"Passport expired {-days} days ago")
        _iw(warnings, exp >= run and days < 180,
            lambda: f"Passport expires in {days} days. Many countries require 6+ "
                    "months validity for entry.")

    # ---- details map (the 10 files share one skeleton: checks list,
    # country_code_verified, passport_number_valid [+ per-country prefix/
    # type keys], age_at_issue, validity_years + verdict key,
    # days_until_expiry — e.g. us_passport.py:36-120, china_passport.py:
    # 40-145, nigeria_passport.py:37-117, france_passport.py:45-127)
    is_france = kind == "france"
    pp_valid = clean != "" and (
        (fmt_ok and not bad) or (is_france and not fmt_ok and near))
    in_either = in_child or in_adult
    vv = has_validity and (
        (tiered and has_age and (in_child if age_at_issue < c.child_age else in_adult))
        or (tiered and c.no_age_fallback and not has_age and in_either)
        or (c.always_window and in_either)
        or (c.fixed_window_only and in_adult)
    )
    if c.d_china_type and pp_valid:
        ptype = {"E": "Ordinary", "G": "Official"}.get(clean[:1], "Diplomatic")
    elif c.always_window and in_child:
        ptype = "32-page (5 years)"
    elif c.always_window and in_adult:
        ptype = "64-page (10 years)"
    else:
        ptype = None
    details = _dmap(
        ("checks_performed",
         "country_code_check; passport_number_format; age_at_issue; "
         "validity_period; expiry_check"),
        # constant initializer keys (e.g. us_passport.py:28)
        ("country", c.d_country),
        ("country_code", c.country_code),
        ("country_code_verified", _t(cc != "" and cc == c.country_code)),
        ("passport_number_valid", _t(pp_valid)),
        ("format_type",
         ("standard" if fmt_ok else "alphanumeric") if is_france and pp_valid else None),
        ("passport_prefix",
         clean[:c.d_prefix] if pp_valid and c.d_prefix is not None else None),
        ("passport_type", ptype),
        ("age_at_issue", str(age_at_issue) if has_age else None),
        ("validity_years", _f1(validity) if has_validity else None),
        (c.d_validity_key, _t(vv)),
        ("days_until_expiry", str(days) if exp is not None and exp >= run else None),
    )
    return _typed(c.name, issues, warnings, f"{c.display} validation failed",
                  f"{c.display} validation passed with warnings",
                  f"{c.display} validation passed", details)


def _canadian_passport(r: dict) -> dict:
    """V30 (validators/canadian_passport.py): no format FAIL, validity
    tiers by age-at-issue (<16: ~5y / 16+: ~10y), >10.5y FAILS when age
    unknown, current age >120 FAILS, pre-1985 issue warns. No expiry check."""
    run, dob, issue_d, exp = r["run"], r["dob"], r["issue"], r["exp"]
    has_age = dob is not None and issue_d is not None
    age_at_issue = _age(issue_d, dob) if has_age else None
    current_age = _age(run, dob) if dob is not None else None
    clean = _SEP.sub("", _trim(_s(r["document_number"])).upper())
    has_validity = issue_d is not None and exp is not None
    validity = (exp - issue_d) / 365.25 if has_validity else None
    v1 = _f1(validity) if has_validity else None
    child = has_age and age_at_issue < 16

    issues: list = []
    _iw(issues, has_age and issue_d < dob, "Issue date cannot be before date of birth")
    _iw(issues, has_validity and not has_age and validity > 10.5,
        lambda: f"Invalid validity period: {v1} years. Canadian passports are valid "
                "for max 10 years.")
    _iw(issues, dob is not None and current_age < 0, "Date of birth is in the future")
    _iw(issues, dob is not None and current_age > 120,
        lambda: f"Unrealistic age: {current_age} years")
    _iw(issues, issue_d is not None and issue_d > run, "Issue date cannot be in the future")
    # byte-exact warning texts (canadian_passport.py:77-95,128-133) —
    # part of the details "warnings" copy
    warnings: list = []
    if has_validity and has_age:
        _iw(warnings, child and (validity < 4.5 or validity > 5.5),
            lambda: f"Child passport (age {age_at_issue} at issue) has {v1} year "
                    "validity. Expected ~5 years for applicants under 16.")
        _iw(warnings, not child and (validity < 9.5 or validity > 10.5),
            lambda: f"Adult passport (age {age_at_issue} at issue) has {v1} year "
                    "validity. Expected ~10 years for applicants 16+.")
    _iw(warnings, has_validity and not has_age and validity < 4.5,
        lambda: f"Unusual short validity period: {v1} years")
    _iw(warnings, issue_d is not None and issue_d <= run and issue_d < _D1985,
        lambda: f"Issue date {_iso(issue_d)} predates modern passport format")
    # details sites: canadian_passport.py:36-136
    details = _dmap(
        ("checks_performed",
         "passport_number_check; age_at_issue; validity_period; "
         "current_age; issue_date_reasonable"),
        ("passport_number", clean or None),
        ("passport_prefix", clean[:2] if len(clean) >= 2 else None),
        ("age_at_issue", str(age_at_issue) if has_age else None),
        ("validity_years", v1),
        ("validity_matches_age", _t(has_validity and has_age and (
            4.5 <= validity <= 5.5 if child else 9.5 <= validity <= 10.5))),
        ("current_age", str(current_age) if dob is not None else None),
        ("issue_date_reasonable",
         _t(issue_d is not None and _D1985 <= issue_d <= run)),
    )
    return _typed("canadian_passport", issues, warnings,
                  "Canadian Passport validation failed",
                  "Canadian Passport validation passed with warnings",
                  "Canadian Passport validation passed", details)


def _generic_passport(r: dict) -> dict:
    """V41 (validators/generic_passport.py)."""
    run, dob, issue_d, exp = r["run"], r["dob"], r["issue"], r["exp"]
    cc = _trim(_s(r["country_code"])).upper()
    disp = _s(r["document_number"])
    clean = _SEP.sub("", _trim(disp).upper())
    fmt_ok = _rlike(clean, r"^[A-Z0-9]{6,12}$")
    has_validity = issue_d is not None and exp is not None
    validity = (exp - issue_d) / 365.25 if has_validity else None
    v1 = _f1(validity) if has_validity else None
    days = exp - run if exp is not None else None
    has_age = dob is not None and issue_d is not None

    issues: list = []
    _iw(issues, clean == "", "Missing passport number")
    _iw(issues, has_age and issue_d < dob, "Issue date cannot be before date of birth")
    _iw(issues, exp is not None and exp < run, lambda: f"Passport expired {-days} days ago")
    warnings: list = []
    _iw(warnings, cc != "" and cc not in COUNTRY_CODES,
        lambda: f"Country code '{cc}' is not a recognized ISO 3166-1 alpha-3 code")
    _iw(warnings, cc == "", "No country code found on passport")
    if clean != "" and not fmt_ok:
        n = len(clean)
        warnings.append(
            f"Passport number '{disp}' seems too short. Most passports have 6-12"
            " alphanumeric characters." if n < 6 else
            f"Passport number '{disp}' seems too long. Most passports have 6-12"
            " alphanumeric characters." if n > 12 else
            f"Passport number '{disp}' may have format issues.")
    _iw(warnings, has_validity and validity < 1,
        lambda: f"Passport has very short validity ({v1} years). This may indicate an issue.")
    _iw(warnings, has_validity and validity > 12,
        lambda: f"Passport has unusually long validity ({v1} years). Most passports "
                "are valid for 5-10 years.")
    _iw(warnings, exp is not None and exp >= run and days < 180,
        lambda: f"Passport expires in {days} days. Many countries require 6+ months "
                "validity for entry.")
    # headers interpolate the ISO-resolved country name, falling back to
    # "International" when the code is missing/unknown
    # (generic_passport.py:141-160: country_name = details.get("country",
    # "International")); details sites: generic_passport.py:38-131
    country = COUNTRY_CODES.get(cc)
    details = _dmap(
        ("checks_performed",
         "country_code_check; passport_number_format; age_at_issue; "
         "validity_period; expiry_check"),
        ("country_code", cc or None),
        ("country", country if cc else None),
        ("country_code_valid", _b(country is not None) if cc else None),
        ("passport_number_valid", _t(clean != "" and fmt_ok)),
        ("passport_number_length", str(len(clean)) if clean != "" and fmt_ok else None),
        ("age_at_issue", str(_age(issue_d, dob)) if has_age else None),
        ("validity_years", v1),
        ("validity_valid", _t(has_validity and 1 <= validity <= 12)),
        ("days_until_expiry", str(days) if exp is not None and exp >= run else None),
    )
    name = country or "International"
    return _typed("generic_passport", issues, warnings,
                  f"{name} Passport validation failed",
                  f"{name} Passport validation passed with warnings",
                  f"{name} Passport validation passed", details)


# ------------------------------------------- photo ID / PR card / OHIP / US DL


def _id_card_dates(r: dict, label: str, issues: list) -> tuple:
    """Date checks shared by the photo-ID and PR-card validators; returns
    (age, days, validity) with None where the inputs are missing."""
    run, dob, issue_d, exp = r["run"], r["dob"], r["issue"], r["exp"]
    age = _age(run, dob) if dob is not None else None
    days = exp - run if exp is not None else None
    validity = (exp - issue_d) / 365.25 if issue_d is not None and exp is not None else None
    if dob is not None:
        _iw(issues, dob > run, "Date of birth cannot be in the future")
        _iw(issues, dob <= run and age < 0, "Invalid date of birth")
    if issue_d is not None:
        _iw(issues, issue_d > run, "Issue date cannot be in the future")
        _iw(issues, issue_d <= run and dob is not None and issue_d < dob,
            "Issue date cannot be before date of birth")
    _iw(issues, exp is not None and exp < run, lambda: f"{label} expired {-days} days ago")
    return age, days, validity


def _photo_id(r: dict) -> dict:
    """V42 (validators/generic_photo_id.py) — also serves ON/BC/AB photo
    cards (validation_service.py:212-223)."""
    disp = _s(r["document_number"])
    clean = _SEP.sub("", _trim(disp).upper())
    issues: list = []
    _iw(issues, clean == "", "Missing document number")
    age, days, validity = _id_card_dates(r, "Photo ID", issues)
    v1 = _f1(validity) if validity is not None else None
    warnings: list = []
    _iw(warnings, clean != "" and len(clean) < 4,
        lambda: f"Document number '{disp}' seems too short")
    _iw(warnings, days is not None and 0 <= days < 30,
        lambda: f"Photo ID expires in {days} days")
    _iw(warnings, validity is not None and validity < 1,
        lambda: f"Photo ID has very short validity ({v1} years)")
    _iw(warnings, validity is not None and validity > 10,
        lambda: f"Photo ID has unusually long validity ({v1} years)")
    # details sites: generic_photo_id.py:35-96
    ok = clean != "" and len(clean) >= 4
    details = _dmap(
        ("checks_performed",
         "document_number_check; date_of_birth_check; issue_date_check; "
         "expiry_check; validity_period"),
        ("document_number_valid", _t(ok)),
        ("document_number_length", str(len(clean)) if ok else None),
        ("calculated_age", None if age is None else str(age)),
        ("days_until_expiry", str(days) if days is not None and days >= 0 else None),
        ("validity_years", v1),
    )
    return _typed("generic_photo_id", issues, warnings, "Photo ID validation failed",
                  "Photo ID validation passed with warnings",
                  "Photo ID validation passed", details)


def _pr_card(r: dict) -> dict:
    """V43 (validators/canada_pr_card.py): format warn-only, under-18
    warn, expiry warn tiers 180/365, validity ~5y window 4-6."""
    raw = _trim(_s(r["document_number"]))
    clean = _SEP.sub("", raw.upper())
    pr_ok = _rlike(clean, r"^[A-Z]{2}\d{6}$")
    issues: list = []
    _iw(issues, clean == "", "Missing document number")
    age, days, validity = _id_card_dates(r, "PR Card", issues)
    v1 = _f1(validity) if validity is not None else None
    warnings: list = []
    _iw(warnings, clean != "" and not pr_ok,
        lambda: f"Document number '{raw}' does not match expected PR Card format "
                "(2 letters + 6 digits)")
    _iw(warnings, age is not None and r["dob"] <= r["run"] and 0 <= age < 18,
        lambda: f"Holder is under 18 years old (age: {age})")
    _iw(warnings, days is not None and 0 <= days < 180,
        lambda: f"PR Card expires in {days} days - renewal recommended within 6 months "
                "of expiry")
    _iw(warnings, days is not None and 180 <= days < 365,
        lambda: f"PR Card expires in {days} days")
    _iw(warnings, validity is not None and validity < 4,
        lambda: f"PR Card has shorter than expected validity ({v1} years, expected "
                "~5 years)")
    _iw(warnings, validity is not None and validity > 6,
        lambda: f"PR Card has longer than expected validity ({v1} years)")
    # details sites: canada_pr_card.py:34-103
    details = _dmap(
        ("checks_performed",
         "document_number_format; date_of_birth_check; issue_date_check; "
         "expiry_check; validity_period"),
        ("document_number_valid", _b(pr_ok) if clean != "" else None),
        ("document_number_format",
         "Valid PR Card format (2 letters + 6 digits)" if clean != "" and pr_ok else None),
        ("calculated_age", None if age is None else str(age)),
        ("days_until_expiry", str(days) if days is not None and days >= 0 else None),
        ("validity_years", v1),
    )
    return _typed("canada_pr_card", issues, warnings, "PR Card validation failed",
                  "PR Card validation passed with warnings",
                  "PR Card validation passed", details)


def _luhn(digits: str | None) -> bool | None:
    """Luhn mod-10 (ontario_health_card.py:28-59): double every second
    digit from the right, subtract 9 when >9, sum, mod 10 == 0; False
    unless the input matches ``^[0-9]+$``. NULL where that Java-regex
    match lets a trailing line terminator through: the old split/cast
    form summed a NULL digit there."""
    if digits is None or not _rlike(digits, r"^[0-9]+$"):
        return False
    if not digits.isascii() or not digits.isdigit():
        return None
    n = len(digits)
    total = 0
    for i, ch in enumerate(digits, 1):
        d = int(ch)
        if (n - i) % 2 == 1:
            d = d * 2 - 9 if d * 2 > 9 else d * 2
        total += d
    return total % 10 == 0


def _health_card(r: dict) -> dict:
    """V11 (validators/ontario_health_card.py): 10 digits + 2-letter
    version code, Luhn checksum FAIL, version letters not in {I,O,Q,U},
    expired FAIL / <90d warn, DOB-not-future, no-version-code warns."""
    run, dob, exp = r["run"], r["dob"], r["exp"]
    raw = _trim(_s(r["document_number"]))
    clean = _SEP.sub("", raw.upper())
    digits = _NON_DIGIT.sub("", clean)
    letters = _NON_AZ.sub("", clean)
    valid_format = (
        _rlike(clean, r"^\d{10}[A-Z]{2}$") or _rlike(clean, r"^\d{10}$")
        or (len(digits) == 10 and len(letters) in (0, 2))
    )
    # _parse_health_card_number fallthrough (ontario_health_card.py:61-96):
    # 10 digits extracted -> digits; else the whole cleaned string (the
    # invalid case returns `clean`, not ""), "" for an empty input
    number = "" if raw == "" else digits if len(digits) == 10 else clean
    version = letters if len(digits) == 10 and len(letters) == 2 else ""
    is_10 = len(number) == 10
    luhn_ok = _luhn(number)
    bad = ", ".join(ch for ch in version if ch in "IOQU")
    days = exp - run if exp is not None else None
    bad_msg = (f"Version code contains invalid letter(s): {bad}. Letters I, O, Q, U "
               "are not used in Ontario Health Card version codes.")

    issues: list = []
    _iw(issues, raw == "", "Missing health card number")
    _iw(issues, raw != "" and not valid_format,
        lambda: "Invalid Ontario Health Card format. Expected: 10 digits + 2-letter "
                f"version code (e.g., 1234567890AB), Got: {raw}")
    _iw(issues, is_10 and luhn_ok is False,
        lambda: f"Health card number '{number}' failed Luhn checksum validation. The "
                "number may be incorrectly entered or invalid.")
    _iw(issues, raw != "" and valid_format and bad, lambda: f"Invalid version code: {bad_msg}")
    _iw(issues, exp is not None and exp < run, lambda: f"Health card expired {-days} days ago")
    _iw(issues, dob is not None and dob > run, "Date of birth cannot be in the future")
    warnings: list = []
    _iw(warnings, raw != "" and valid_format and version == "",
        "No version code found. This may be an old-style (red and white) health card "
        "which is being phased out.")
    _iw(warnings, days is not None and 0 <= days < 90,
        lambda: f"Health card expires in {days} days. Consider renewing soon.")
    _iw(warnings, _blank(r["expiry_date"]) and version == "",
        "No expiry date. Old-style health cards without photo are being phased out. "
        "Please update to a photo health card.")
    # details sites: ontario_health_card.py:147-228; version_code_message
    # values from _validate_version_code (:100-131; the len!=2 and
    # non-alpha branches are unreachable — version is "" or 2 letters by
    # construction)
    version_msg = (
        "No version code (may be old-style card)" if version == ""
        else bad_msg if bad else f"Valid version code: {version}"
    )
    details = _dmap(
        ("checks_performed",
         "health_card_format; luhn_checksum; version_code_validation; "
         "expiry_check; age_validation"),
        ("raw_document_number", _s(r["document_number"])),
        ("health_number", number),
        ("version_code", version or "none"),
        ("format_valid", _t(raw != "" and valid_format)),
        ("luhn_valid", _b(luhn_ok is True) if is_10 else None),
        ("luhn_checksum_passed", _t(is_10 and luhn_ok is True)),
        ("version_code_valid", _b(not bad) if valid_format else None),
        ("version_code_message", version_msg if valid_format else None),
        ("days_until_expiry", str(days) if days is not None and days >= 0 else None),
        ("calculated_age", str(_age(run, dob)) if dob is not None and dob <= run else None),
    )
    return _typed("ontario_health_card", issues, warnings,
                  "Ontario Health Card validation failed",
                  "Ontario Health Card validation passed with warnings",
                  "Ontario Health Card validation passed", details)


# V46 state table (us_drivers_license.py:10-95), format_desc verbatim
US_STATE_FORMATS = [
    ("california", "California", r"^[A-Z]\d{7}$", 16, 5,
     "A1234567 (1 letter + 7 digits)"),
    ("texas", "Texas", r"^\d{8}$", 16, 6, "12345678 (8 digits)"),
    ("florida", "Florida", r"^[A-Z]\d{12}$", 16, 8,
     "A123456789012 (1 letter + 12 digits)"),
    ("new_york", "New York", r"^\d{9}$", 16, 8, "123456789 (9 digits)"),
    ("illinois", "Illinois", r"^[A-Z]\d{11,12}$", 16, 4,
     "A12345678901 (1 letter + 11-12 digits)"),
    ("pennsylvania", "Pennsylvania", r"^\d{8}$", 16, 4, "12345678 (8 digits)"),
    ("ohio", "Ohio", r"^[A-Z]{2}\d{6}$", 16, 4, "AB123456 (2 letters + 6 digits)"),
    ("georgia", "Georgia", r"^\d{9}$", 16, 8, "123456789 (9 digits)"),
    ("michigan", "Michigan", r"^[A-Z]\d{12}$", 16, 4,
     "A123456789012 (1 letter + 12 digits)"),
    ("arizona", "Arizona", r"^[A-Z]\d{8}$|^\d{9}$", 16, 12,
     "A12345678 or 123456789"),
    ("washington", "Washington", r"^[A-Z]{1,7}[A-Z0-9*]{1,11}$", 16, 6,
     "LASTNAME*FN*MN + numbers"),
    ("new_jersey", "New Jersey", r"^[A-Z]\d{14}$", 17, 4,
     "A12345678901234 (1 letter + 14 digits)"),
]

_US_STATE_INDICATORS = {
    "california": ["CA", "CALIFORNIA"], "texas": ["TX", "TEXAS"],
    "florida": ["FL", "FLORIDA"], "new_york": ["NY", "NEW YORK"],
    "illinois": ["IL", "ILLINOIS"], "pennsylvania": ["PA", "PENNSYLVANIA"],
    "ohio": ["OH", "OHIO"], "georgia": ["GA", "GEORGIA"],
    "michigan": ["MI", "MICHIGAN"], "arizona": ["AZ", "ARIZONA"],
    "washington": ["WA", "WASHINGTON"], "new_jersey": ["NJ", "NEW JERSEY"],
}

_LETTER_MATCH_STATES = {"california", "florida", "michigan", "illinois", "new_jersey"}


def _us_dl(r: dict) -> dict:
    """V46 (validators/us_drivers_license.py:173-352): state from address
    (else by format match), per-state format FAIL, first-letter warn for
    CA/FL/MI/IL/NJ, state min-age, expiry, validity + 2y slack."""
    run, dob, issue_d, exp = r["run"], r["dob"], r["issue"], r["exp"]
    address = _s(r["address"]).upper()
    disp = _s(r["document_number"])
    clean = _SEP.sub("", _trim(disp).upper())
    # the separate legs drive details.detection_method
    # (us_drivers_license.py:197-209)
    by_addr = next((s for s in US_STATE_FORMATS
                    if any(i in address for i in _US_STATE_INDICATORS[s[0]])), None)
    by_fmt = next((s for s in US_STATE_FORMATS if _rlike(clean, s[2])), None)
    method = "address" if by_addr else "format_match" if by_fmt else "none"
    st = by_addr or by_fmt
    key, state, fmt, min_age, term, fmt_desc = st or (None, None, None, 16, None, None)
    fmt_ok = st is not None and _rlike(clean, fmt)
    letter_state = key in _LETTER_MATCH_STATES
    generic_ok = _rlike(clean, r"^[A-Z0-9]{6,16}$")
    last_name, _src = _last_name(r, "field_first")
    letter = clean[:1]
    ln_initial = last_name[:1].upper()
    age = _age(run, dob) if dob is not None else None
    days = exp - run if exp is not None else None
    has_validity = issue_d is not None and exp is not None
    validity = (exp - issue_d) / 365.25 if has_validity else None

    issues: list = []
    _iw(issues, clean == "", "Missing license number")
    _iw(issues, clean != "" and st is not None and not fmt_ok,
        lambda: f"License number doesn't match {state} format. Expected: {fmt_desc}, "
                f"Got: {disp}")
    _iw(issues, clean != "" and st is None and not generic_ok,
        lambda: "Invalid US license format. Expected 6-16 alphanumeric characters, "
                f"Got: {disp}")
    _iw(issues, age is not None and age < min_age,
        lambda: f"Person is {age} years old. Minimum age for driver's license is {min_age}")
    _iw(issues, exp is not None and exp < run, lambda: f"License expired {-days} days ago")
    warnings: list = []
    _iw(warnings, clean != "" and st is None and generic_ok,
        "Could not determine specific state. Using generic US format validation.")
    _iw(warnings, clean != "" and last_name != "" and letter_state
        and _rlike(letter, "[A-Z]") and letter != ln_initial,
        lambda: f"License first letter '{letter}' may not match last name initial "
                f"'{ln_initial}' (common in {state or 'this state'})")
    _iw(warnings, age is not None and min_age <= age < 18,
        lambda: f"Person is {age}. May have restricted license (graduated licensing)")
    _iw(warnings, days is not None and 0 <= days < 30,
        lambda: f"License expires in {days} days")
    _iw(warnings, has_validity and st is not None and validity > term + 2,
        lambda: f"Validity period ({_f1(validity)} years) exceeds typical {state} "
                f"license term ({term} years)")
    # pass message names the detected state (us_drivers_license.py:348-349)
    pass_msg = ("US Driver's License validation passed"
                + (f" ({state} format)" if st is not None else ""))
    # details sites: us_drivers_license.py:187-319
    fmt_valid = clean != "" and (fmt_ok if st is not None else generic_ok)
    fl_gate = (clean != "" and last_name != "" and letter_state
               and _rlike(letter, "^[A-Z]$"))
    details = _dmap(
        ("checks_performed",
         "state_detection; license_number_format; first_letter_check; "
         "minimum_age; expiry_check; validity_period; real_id_check"),
        ("license_number", clean),
        ("detected_state", state or "Unknown"),
        ("detection_method", method),
        ("format_valid", _t(fmt_valid)),
        ("format_matched", (state or "Generic US") if fmt_valid else None),
        ("license_first_letter", letter if fl_gate else None),
        ("last_name_initial", ln_initial if fl_gate else None),
        ("first_letter_matches", _t(fl_gate and letter == ln_initial)),
        ("current_age", None if age is None else str(age)),
        ("minimum_age_required", str(min_age) if age is not None else None),
        ("days_until_expiry", str(days) if days is not None and days >= 0 else None),
        ("validity_years", _f1(validity) if has_validity else None),
        ("real_id_status", "not_verified"),
    )
    return _typed("us_drivers_license", issues, warnings,
                  "US Driver's License validation failed",
                  "US Driver's License validation passed with warnings",
                  pass_msg, details)


# ------------------------------------------------------------- dispatch


# the bespoke entries of the 36-entry dispatch map
# (validation_service.py:129-239); DL and passport types resolve their
# config row by name
_BESPOKE = {
    "ontario_health_card": _health_card,
    "canadian_passport": _canadian_passport,
    "generic_passport": _generic_passport,
    "ontario_photo_card": _photo_id,
    "bc_photo_id": _photo_id,
    "alberta_photo_id": _photo_id,
    "generic_photo_id": _photo_id,
    "canada_pr_card": _pr_card,
    "us_drivers_license": _us_dl,
}


def _type_specific(r: dict) -> list[dict]:
    e = r["doc_type_enum"]
    if e in DL_CONFIGS:
        return [_dl(DL_CONFIGS[e], r)]
    if e in PASSPORT_CONFIGS:
        return [_passport(PASSPORT_CONFIGS[e], r)]
    fn = _BESPOKE.get(e)
    return [fn(r)] if fn else []


def _battery(r: dict) -> list[dict]:
    """5 base validators + the dispatched type-specific one
    (validation_service.py:283-295)."""
    return [
        _data_consistency(r), _document_expiry(r), _age_validation(r),
        _document_format(r), _FACE_MATCHING, *_type_specific(r),
    ]


def _only(fn, r: dict) -> list[dict]:  # noqa: ANN001
    return [fn(r)]


# ------------------------------------------------------- the Arrow boundary


@functools.lru_cache(maxsize=1)
def _results_arrow_type() -> pa.DataType:
    from pyspark.sql.pandas.types import to_arrow_type

    return to_arrow_type(RESULTS_TYPE)


def _kernel(battery, doc_type_enum: Column | None, run_date: Column,  # noqa: ANN001
            minimum_age: int = 18) -> Column:
    """``battery(row) -> [result, ...]`` mapped over each Arrow batch by
    one scalar Arrow UDF. Rows reach Python as dicts keyed by the 13
    field names plus dob/issue/exp/run (unix day numbers),
    doc_type_enum and minimum_age."""
    rows = F.struct(
        *[F.col(n) for n in FIELD_NAMES],
        F.unix_date(F.col(DOB_COL)).alias("dob"),
        F.unix_date(F.col(ISSUE_COL)).alias("issue"),
        F.unix_date(F.col(EXP_COL)).alias("exp"),
        (F.lit(None) if doc_type_enum is None else doc_type_enum)
        .cast("string").alias("doc_type_enum"),
        F.unix_date(run_date).alias("run"),
        F.lit(int(minimum_age)).alias("minimum_age"),
    )

    def validate(batch: pa.Array) -> pa.Array:
        return pa.array([battery(r) for r in batch.to_pylist()],
                        type=_results_arrow_type())

    return F.arrow_udf(validate, RESULTS_TYPE)(rows)


def _one(fn, run_date: Column, minimum_age: int = 18) -> Column:  # noqa: ANN001
    return F.try_element_at(
        _kernel(functools.partial(_only, fn), None, run_date, minimum_age), F.lit(1))


def data_consistency_validator(run_date: Column) -> Column:
    return _one(_data_consistency, run_date)


def document_expiry_validator(run_date: Column) -> Column:
    return _one(_document_expiry, run_date)


def age_validator(run_date: Column, minimum_age: int) -> Column:
    return _one(_age_validation, run_date, minimum_age)


def document_format_validator() -> Column:
    return _one(_document_format, F.lit(None).cast("date"))


def face_matching_validator() -> Column:
    return _one(_face_matching, F.lit(None).cast("date"))


def dl_validator(cfg: DLConfig, run_date: Column) -> Column:
    return _one(functools.partial(_dl, cfg), run_date)


def passport_validator(cfg: PassportConfig, run_date: Column) -> Column:
    return _one(functools.partial(_passport, cfg), run_date)


def canadian_passport_validator(run_date: Column) -> Column:
    return _one(_canadian_passport, run_date)


def generic_passport_validator(run_date: Column) -> Column:
    return _one(_generic_passport, run_date)


def generic_photo_id_validator(run_date: Column) -> Column:
    return _one(_photo_id, run_date)


def canada_pr_card_validator(run_date: Column) -> Column:
    return _one(_pr_card, run_date)


def ontario_health_card_validator(run_date: Column) -> Column:
    return _one(_health_card, run_date)


def us_drivers_license_validator(run_date: Column) -> Column:
    return _one(_us_dl, run_date)


def type_specific_validator(doc_type_enum: Column, run_date: Column) -> Column:
    """The dispatched type-specific validator; NULL when the type has no
    validator (e.g. unknown)."""
    return F.try_element_at(_kernel(_type_specific, doc_type_enum, run_date), F.lit(1))


def validation_results_expr(
    doc_type_enum: Column, run_date: Column, minimum_age: int = 18
) -> Column:
    """Full battery: 5 base validators + the dispatched type-specific one."""
    return _kernel(_battery, doc_type_enum, run_date, minimum_age)


def _luhn_valid_expr(digits: Column) -> Column:
    """Luhn mod-10 over a digit-string column (``_luhn``, per Arrow batch)."""

    def luhn(batch: pa.Array) -> pa.Array:
        return pa.array([_luhn(s) for s in batch.to_pylist()], type=pa.bool_())

    return F.arrow_udf(luhn, BooleanType())(digits)


def doc_type_enum_expr(document_type: Column) -> Column:
    """document_type string -> validator-lookup enum: dynamic
    ``<country>_passport`` types map to generic_passport
    (document_type_detector.py:449-461 + DocumentTypeInfo.document_type_enum)."""
    known = (
        set(DL_CONFIGS)
        | set(PASSPORT_CONFIGS)
        | {
            "ontario_health_card", "canadian_passport", "generic_passport",
            "ontario_photo_card", "bc_photo_id", "alberta_photo_id",
            "generic_photo_id", "canada_pr_card", "us_drivers_license",
            "generic_id", "unknown",
        }
    )
    return (
        F.when(document_type.isin(*known), document_type)
        .when(document_type.endswith("_passport"), F.lit("generic_passport"))
        .otherwise(F.lit("unknown"))
    )


def _round_half_even_2(x: Column) -> Column:
    """round(x, 2) with Python's round-half-to-even tie behavior (the
    reference uses round(), validation_service.py:411; Spark's F.round is
    HALF_UP, which diverges on exact ties like 0.125 -> 0.13 vs 0.12)."""
    scaled = x * 100
    fl = F.floor(scaled)
    tie = (scaled - fl) == 0.5
    hundredths = F.when(
        tie, F.when(fl % 2 == 0, fl).otherwise(fl + 1)
    ).otherwise(F.round(scaled, 0))
    return hundredths / 100


def validation_summary_expr(results: Column) -> Column:
    """V-agg (validation_service.py:390-428): score =
    (passed + 0.5*warnings) / active; FAILED > WARNING > PASSED > SKIPPED."""
    def count(status: str) -> Column:
        return F.size(F.filter(results, lambda r: r["status"] == status))

    passed, failed = count("passed"), count("failed")
    warnings, skipped = count("warning"), count("skipped")
    total = F.size(results)
    active = total - skipped
    score = F.when(
        active > 0,
        _round_half_even_2((passed + warnings * 0.5) / active.cast("double")),
    ).otherwise(F.lit(0.0))
    overall = (
        F.when(failed > 0, "failed")
        .when(warnings > 0, "warning")
        .when(passed > 0, "passed")
        .otherwise("skipped")
    )
    return F.struct(
        overall.alias("overall_status"),
        score.alias("validation_score"),
        total.alias("total_checks"),
        passed.alias("passed_checks"),
        failed.alias("failed_checks"),
        warnings.alias("warning_checks"),
        skipped.alias("skipped_checks"),
    )
