"""Multi-ontology export pipeline — parity with the reference's
__main__ (umls2rdf.py:828-896) and umls.conf format.

The reference iterates umls.conf serially, loading each ontology into
driver RAM; here every pending conf entry and the semantic-types
document are exported by ONE Spark plan keyed on (document, class)
and written by one partitioned write, so the RRF tables are scanned
once per run instead of once per entry. A user of the reference can
point this at the same conf text and RRF/parquet inputs and get the
same set of .ttl outputs.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from umls2rdf_spark.rdf.ontology import (
    OntologySpec,
    mrsab_records,
    ontology_documents,
    write_documents,
    write_ontology,
)
from umls2rdf_spark.sources.rrf import read_rrf

# write_ontology (the one-entry export) stays importable from here
__all__ = [
    "DEFAULT_BASE_URI", "ConfEntry", "parse_conf", "load_umls_tables",
    "load_state", "save_state", "mark_steps_complete", "run_pipeline",
    "write_ontology",
]

DEFAULT_BASE_URI = "http://purl.bioontology.org/ontology/"


@dataclass(frozen=True)
class ConfEntry:
    """One umls.conf line: ``CODE[;ALT_URI_CODE],file.ttl,load_on_X``
    (parsed exactly like umls2rdf.py:832-872)."""

    umls_code: str
    alt_uri_code: str | None
    file_out: str
    load_on_cuis: bool


def parse_conf(text: str) -> list[ConfEntry]:
    entries = []
    for line in text.splitlines():
        if not line or line.startswith("#"):
            continue
        parts = line.split(",")
        if len(parts) < 3:
            continue
        code, file_out, load_on = (p.strip() for p in parts[:3])
        alt = None
        if ";" in code:
            code, alt = code.split(";", 1)
        entries.append(
            ConfEntry(code, alt, file_out, load_on == "load_on_cuis")
        )
    return entries


def load_umls_tables(spark: SparkSession, rrf_dir: str) -> dict[str, DataFrame]:
    """All 8 UMLS tables from a directory of .RRF files — the
    replacement for the reference's MySQL staging (create_mysql_db.py
    + LOAD DATA): Spark reads the pipe-delimited files directly as
    splittable scans."""
    names = "MRCONSO MRREL MRDEF MRSAT MRSTY MRRANK MRSAB MRDOC".split()
    out = {}
    for name in names:
        path = os.path.join(rrf_dir, f"{name}.RRF")
        if os.path.exists(path):
            out[name] = read_rrf(spark, path, table=name)
    return out


STATE_VERSION = 1


def _state_path(output_dir: str) -> str:
    return os.path.join(output_dir, "pipeline_state.json")


def load_state(output_dir: str) -> dict:
    """Pipeline resume state — mirrors the reference's load_state
    (run_umls_pipeline.py:74-83): missing file → fresh state."""
    path = _state_path(output_dir)
    if not os.path.exists(path):
        return {"state_version": STATE_VERSION, "steps": {}}
    with open(path) as fh:
        state = json.load(fh)
    state.setdefault("state_version", STATE_VERSION)
    state.setdefault("steps", {})
    return state


def save_state(output_dir: str, state: dict) -> None:
    """Atomic write-temp-then-rename, like the reference's save_state
    (run_umls_pipeline.py:86-96) — a killed run never leaves a
    truncated state file."""
    path = _state_path(output_dir)
    os.makedirs(output_dir, exist_ok=True)
    with tempfile.NamedTemporaryFile(
        "w", dir=output_dir, delete=False
    ) as tmp:
        json.dump(state, tmp, indent=2, sort_keys=True)
        tmp.write("\n")
        tmp_path = tmp.name
    os.replace(tmp_path, path)


def mark_steps_complete(
    output_dir: str, state: dict, steps: dict[str, dict]
) -> None:
    """run_umls_pipeline.py:99-101: record + persist completed steps
    (one atomic state write for a whole batch)."""
    state["steps"].update(steps)
    save_state(output_dir, state)


def run_pipeline(
    tables: dict[str, DataFrame],
    conf_text: str,
    output_dir: str,
    umls_base_uri: str = DEFAULT_BASE_URI,
    umls_version: str = "2025AB",
    only_current_version: bool = False,
    resume: bool = True,
) -> dict[str, str]:
    """Export every configured ontology + the semantic-types file.

    Mirrors __main__ (umls2rdf.py:828-896): one .ttl per conf entry
    plus umls_semantictypes.ttl, honoring alt URI codes, load_on_cuis,
    the MSH tree special case and the PROCESS_ONLY_CURRENT_UMLS_VERSION
    skip. MRSAB is collected once. Returns {ont_code: output_path} for
    what was exported or resumed.

    Staged-resume semantics (reference run_umls_pipeline.py:74-101):
    completed documents are recorded in ``pipeline_state.json``
    (atomic replace) keyed by step name. With ``resume=True``, entries
    already marked done (state entry present AND output still there)
    are skipped; the pending entries are written as one batch, and a
    failure inside it marks none of them. ``resume=False`` ignores and
    rewrites prior state.
    """
    os.makedirs(output_dir, exist_ok=True)
    state = load_state(output_dir) if resume else {
        "state_version": STATE_VERSION, "steps": {}
    }

    def done(step: str, path: str) -> bool:
        return (
            resume
            and step in state["steps"]
            and os.path.exists(
                state["steps"][step].get("output", path)
            )
        )

    entries = parse_conf(conf_text)
    records = (
        mrsab_records(tables["MRSAB"], [e.umls_code for e in entries])
        if "MRSAB" in tables
        else {}
    )
    exported: dict[str, str] = {}
    specs: list[OntologySpec] = []
    pending: list[tuple[str, str]] = []  # (step, output path) per doc
    for entry in entries:
        rec = records.get(entry.umls_code)
        if only_current_version and (
            not rec or rec.get("IMETA") != umls_version
        ):
            continue
        out_path = os.path.join(output_dir, entry.file_out)
        step = f"ontology:{entry.umls_code}:{entry.file_out}"
        if done(step, out_path):
            exported[entry.umls_code] = state["steps"][step]["output"]
            continue
        lat = (rec or {}).get("LAT") or "ENG"
        # get_umls_url (umls2rdf.py:94) returns '<base><code>/' — the
        # trailing slash is part of the ontology resource IRI emitted
        # in the document header.
        ns = umls_base_uri + (entry.alt_uri_code or entry.umls_code) + "/"
        specs.append(OntologySpec.from_conf(
            entry.umls_code, ns, lat, entry.load_on_cuis, rec, umls_version
        ))
        pending.append((step, out_path))
        exported[entry.umls_code] = out_path

    sem_path = os.path.join(output_dir, "umls_semantictypes.ttl")
    sem_pending = "MRSTY" in tables and not done("semantic_types", sem_path)
    if sem_pending:
        pending.append(("semantic_types", sem_path))
    if pending:
        docs = ontology_documents(tables, specs, semantic_types_doc=sem_pending)
        write_documents(docs, [path for _, path in pending])
        mark_steps_complete(
            output_dir, state,
            {step: {"output": path} for step, path in pending},
        )
    return exported
