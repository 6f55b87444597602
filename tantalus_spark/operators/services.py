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

import json

from tantalus_spark.catalog.loader import Database
from tantalus_spark.operators.pagination import Page, paginate


class UnknownFilterError(Exception):
    """api/views.py:75-80 APIException('no filter ...') analog."""


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
