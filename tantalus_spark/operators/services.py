"""API-parity query services: validated filter params → compiled plans
(SURVEY.md §3.1).

Mirrors the reference's front door: ``RestrictedQueryMixin.get_queryset``
(api/views.py:53-82) collects each filterset's legal params, rejects unknown
keys with an error naming the filter (api/views.py:75-80), pins
``order_by('id')`` (api/views.py:62), then DRF pagination slices.

FILTERSETS reproduces ``tantalus/api/filters.py`` (13 filtersets) — each
entry maps a queryable param to its allowed lookups; ``exact`` is implied.
The reference pre-applies ``distinct`` on most endpoints (SURVEY.md §7 hard
part 2) to undo Django's join fan-out. Match-set compilation never fans out
and every endpoint's pk is unique, so there is nothing to undo: no endpoint
asks for ``distinct``, and a list request plans no dedup shuffle.

A list request is one Spark action: ``paginate`` collects the page and
observes the total in the same scan, and ``Page.rows`` is that list."""

from __future__ import annotations

import calendar
import json
import re

from pyspark.sql import types as T

from tantalus_spark.catalog.loader import Database
from tantalus_spark.operators.pagination import Page, paginate


class UnknownFilterError(Exception):
    """api/views.py:75-80 APIException('no filter ...') analog."""


# Lookups whose value Spark casts to the compared column's type; under
# ANSI a value the type cannot take fails the request's Spark job.
_CAST_LOOKUPS = {"exact", "in", "gt", "gte", "lt", "lte"}
_CAST_TRIM = "".join(map(chr, range(33)))  # what Spark's string casts strip
_INTEGRAL_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32,
                  T.LongType: 64}
_INTEGRAL = re.compile(r"[+-]?[0-9]+")
_BOOLEAN = {"t", "true", "y", "yes", "1", "f", "false", "n", "no", "0"}
# Spark's string -> date/timestamp grammar (DateTimeUtils.stringToDate,
# parseTimestampString): a date ignores whatever follows a space or T
# after its day; a time is hour[:minute[:second[.fraction]]], and only a
# second or a fraction may carry a zone. A bare time (T12, 12:30) is a
# timestamp on the current date, but no timestamp_ntz.
_DATE = re.compile(r"([+-]?)([0-9]{4,7})(?:-([0-9]{1,2})(?:-([0-9]{1,2})"
                   r"(?:[ T][\s\S]*)?)?)?")
_TIME = (r"([0-9]{1,2})(?::([0-9]{1,2})(?::([0-9]{1,2})(?:\.([0-9]*))?"
         r"([^0-9][\s\S]*)?)?)?")
_TIMESTAMP = re.compile(r"([+-]?)([0-9]{4,6})(?:-([0-9]{1,2})"
                        r"(?:-([0-9]{1,2})(?:[ T]" + _TIME + r")?)?)?")
_BARE_TIME = re.compile(r"(?:T|(?=[0-9]{1,2}:))" + _TIME)
# java.time ZoneOffset.of: +h, +hh, +hhmm, +hh:mm, +hhmmss, +hh:mm:ss
_OFFSET = re.compile(r"[+-]([0-9]{1,2})|[+-]([0-9]{2}):?([0-9]{2})"
                     r"|[+-]([0-9]{2})(:?)([0-9]{2})\5([0-9]{2})")
_REGION = re.compile(r"[A-Za-z][A-Za-z0-9~/._+-]+")
_SHORT_IDS = {"ACT", "AET", "AGT", "ART", "AST", "BET", "BST", "CAT", "CNT",
              "CST", "CTT", "EAT", "ECT", "EST", "HST", "IET", "IST", "JST",
              "MIT", "MST", "NET", "NST", "PLT", "PNT", "PRT", "PST", "SST",
              "VST"}
_ZONE_IDS: frozenset[str] | None = None  # the JVM's region zone ids


def _days(year: int, month: int, day: int) -> int | None:
    """Days from 1970-01-01 to a proleptic Gregorian date, or None if
    the date does not exist."""
    leap = month == 2 and calendar.isleap(year)
    if not (1 <= month <= 12 and 1 <= day <= calendar.mdays[month] + leap):
        return None
    era, yoe = divmod(year - (month <= 2), 400)
    doy = (153 * (month - 3 if month > 2 else month + 9) + 2) // 5 + day - 1
    return era * 146097 + yoe * 365 + yoe // 4 - yoe // 100 + doy - 719468


def _region_known(zone: str) -> bool:
    """Whether the driver JVM's time-zone database holds ``zone``; True
    when no Spark context is up to ask."""
    global _ZONE_IDS
    if _ZONE_IDS is None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return True
        _ZONE_IDS = frozenset(sc._jvm.java.time.ZoneId.getAvailableZoneIds())
    return zone in _ZONE_IDS


def _zone_offset(zone: str) -> int | None:
    """The UTC offset in seconds of a timestamp's zone suffix as Spark's
    getZoneId reads it (a region zone counts as 0), or None if
    java.time rejects it."""
    zone = zone.strip(_CAST_TRIM)
    zone = re.sub(r"([+-])([0-9]):", r"\g<1>0\2:", zone, count=1)
    zone = re.sub(r"([+-][0-9]{2}):([0-9])$", r"\1:0\2", zone, count=1)
    for prefix in ("UTC", "GMT", "UT"):
        if zone.startswith(prefix) and zone[len(prefix):][:1] in ("", "+",
                                                                  "-"):
            zone = zone[len(prefix):] or "Z"
            break
    if zone == "Z":
        return 0
    if zone[:1] in ("+", "-"):
        m = _OFFSET.fullmatch(zone)
        if m is None:
            return None
        h = int(m.group(1) or m.group(2) or m.group(4))
        mi, sec = int(m.group(3) or m.group(6) or 0), int(m.group(7) or 0)
        total = h * 3600 + mi * 60 + sec
        if mi > 59 or sec > 59 or total > 18 * 3600:
            return None
        return -total if zone[0] == "-" else total
    known = zone in _SHORT_IDS or (_REGION.fullmatch(zone) is not None
                                   and _region_known(zone))
    return 0 if known else None


def _castable(value: str, dtype: T.DataType) -> bool:
    """Whether Spark's cast of the string ``value`` to ``dtype`` can
    succeed."""
    v = value.strip(_CAST_TRIM)
    bits = _INTEGRAL_BITS.get(type(dtype))
    if bits:
        return (_INTEGRAL.fullmatch(v) is not None
                and -(1 << bits - 1) <= int(v) < 1 << bits - 1)
    if isinstance(dtype, T.BooleanType):
        return v.lower() in _BOOLEAN
    if isinstance(dtype, T.DateType):
        m = _DATE.fullmatch(v)
        if m is None:
            return False
        sign, y, mo, d = m.groups()
        days = _days(int(sign + y), int(mo or 1), int(d or 1))
        return days is not None and -(1 << 31) <= days < 1 << 31
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        days = 0
        m = _TIMESTAMP.fullmatch(v)
        if m is not None:
            sign, y, mo, d = m.groups()[:4]
            days = _days(int(sign + y), int(mo or 1), int(d or 1))
        elif isinstance(dtype, T.TimestampType) and (
                v[:1] != "T" or value[:1] == "T"):
            # a leading T counts only when no blank was trimmed before it
            m = _BARE_TIME.fullmatch(v)
        if m is None or days is None:
            return False
        h, mi, sec, frac, zone = m.groups()[-5:]
        h, mi, sec = int(h or 0), int(mi or 0), int(sec or 0)
        offset = 0 if zone is None else _zone_offset(zone)
        if offset is None or h > 23 or mi > 59 or sec > 59:
            return False
        if isinstance(dtype, T.TimestampNTZType):
            offset = 0  # the zone is checked, then ignored
        seconds = days * 86400 + h * 3600 + mi * 60 + sec - offset
        micros = seconds * 10**6 + int((frac or "")[:6].ljust(6, "0"))
        return -(1 << 63) <= micros < 1 << 63
    return True


# param -> extra lookups beyond exact (api/filters.py:55-298)
FILTERSETS: dict[str, dict[str, list[str]]] = {
    "patient": {"id": [], "patient_id": [], "reference_id": [],
                "external_patient_id": [], "case_id": []},
    "sample": {"id": [], "sample_id": [], "external_sample_id": [],
               "submitter": [], "researcher": [], "tissue": [],
               "patient__patient_id": [], "projects__name": [],
               "sequencedataset__id": ["isnull"]},
    "dna_library": {"id": [], "library_id": ["startswith"],
                    "library_type__name": [], "index_format": []},
    "sequencing_lane": {"id": [], "flowcell_id": [], "lane_number": [],
                        "dna_library__library_id": [],
                        "sequencing_centre": []},
    "sequence_dataset": {
        "id": ["in"], "name": [], "version_number": [],
        "dataset_type": [], "is_production": [],
        "last_updated": ["gte", "lte"],
        "sample__sample_id": ["contains"],
        "library__library_id": [], "library__library_type__name": [],
        "tags__name": [], "sequence_lanes__flowcell_id": [],
        "sequence_lanes__lane_number": [],
        "aligner__name": ["startswith"], "reference_genome__name": [],
        "analysis__jira_ticket": [],
        "file_resources__fileinstance__storage__name": [],
    },
    "file_resource": {
        "id": ["in"], "filename": ["endswith", "startswith"],
        "sequencedataset__id": [], "sequencedataset__name": [],
        "fileinstance__storage__name": [],
    },
    "file_instance": {"id": [], "storage__name": [],
                      "file_resource": ["exact", "in"], "is_deleted": []},
    "sequence_file_info": {"id": [], "file_resource": ["exact", "in"]},
    "analysis": {"id": [], "name": [], "jira_ticket": [], "version": [],
                 "status": [], "analysis_type__name": [],
                 "last_updated": ["gte", "lte"],
                 "input_datasets__library__library_id": []},
    "results_dataset": {"id": [], "name": [], "results_type": [],
                        "analysis__jira_ticket": [], "tags__name": [],
                        "samples__sample_id": [], "libraries__library_id": []},
    "storage": {"id": [], "name": [], "storage_type": []},
    "tag": {"id": [], "name": []},
    "curation": {"id": [], "name": [], "version": []},
}


def allowed_params(endpoint: str) -> set[str]:
    spec = FILTERSETS[endpoint]
    out: set[str] = set()
    for param, lookups in spec.items():
        out.add(param)
        for lk in lookups:
            out.add(f"{param}__{lk}")
    return out


def filtered_queryset(db: Database, endpoint: str, params: dict[str, object]):
    """Validate params against the endpoint's filterset, then compile.

    Every param=value pair is its own .filter() call, matching
    django-filter semantics (each filter applies independently)."""
    if endpoint not in FILTERSETS:
        raise UnknownFilterError(f"unknown endpoint {endpoint!r}")
    legal = allowed_params(endpoint)
    qs = db.query(endpoint)
    for key, value in params.items():
        if key not in legal:
            raise UnknownFilterError(
                f"no filter {key!r} on {endpoint!r}; legal: {sorted(legal)}")
        dtype, lookup = qs.field_type(key)
        if lookup in _CAST_LOOKUPS:
            for v in value if isinstance(value, (list, tuple)) else [value]:
                if isinstance(v, str) and not _castable(v, dtype):
                    raise UnknownFilterError(
                        f"filter {key!r} on {endpoint!r}: {v!r} is not a "
                        f"{dtype.simpleString()} value")
        qs = qs.filter(**{key: value})
    return qs


def api_list(db: Database, endpoint: str, params: dict[str, object],
             page: int = 1, page_size: int = 10,
             no_pagination: bool = False) -> Page:
    """The full §3.1 request path: validate → compile → order_by('id') →
    paginate. Returns rows + total like DRF's paginated response."""
    qs = filtered_queryset(db, endpoint, params)
    return paginate(qs.to_df(), ["id"], page=page, page_size=page_size,
                    no_pagination=no_pagination)


def to_json_rows(page: Page) -> list[str]:
    """Serialization boundary: one compact JSON object per page row, encoded
    driver-side from the collected page like the HTTP facade's bodies."""
    return [json.dumps(r.asDict(recursive=True), default=str,
                       separators=(",", ":")) for r in page.rows.collect()]


def datatables_list(
    db: Database,
    endpoint: str,
    search_fields: list[str],
    search_value: str = "",
    order_by: list[str] | None = None,
    start: int = 0,
    length: int = 50,
) -> dict:
    """Datatables server-side protocol (reference views.py:1290-1398,
    ``DatasetListJSON``): token search = AND across whitespace tokens of OR
    across the searchable fields (views.py:1197-1213), multi-column order,
    offset/length slice, and both totals. ``length`` caps at 50
    (max_display_length, views.py:1328)."""
    from tantalus_spark.compiler import Q

    length = min(length, 50)
    qs = db.query(endpoint)
    total = qs.count()
    for token in (search_value or "").split():
        node = None
        for f in search_fields:
            leaf = Q(**{f"{f}__icontains": token})
            node = leaf if node is None else (node | leaf)
        qs = qs.filter(node)
    qs = qs.distinct()
    filtered_df = qs.to_df()
    page = paginate(filtered_df, order_by or ["id"],
                    page=start // max(length, 1) + 1, page_size=length)
    return {
        "recordsTotal": total,
        "recordsFiltered": page.total,
        "data": [r.asDict() for r in page.rows.collect()],
    }
