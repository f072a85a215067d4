"""Batched multi-ontology export: one Spark plan writes every umls.conf
document. Checks byte identity with checked-in golden documents,
isolation between sources that share codes/CUIs, and that the plan's
MRCONSO scans do not grow with the number of conf entries.

Regenerate the golden documents (only when the expected output is
meant to change) with ``python tests/test_export_batch.py <out_dir>``,
then copy ``<out_dir>/*.ttl`` over ``tests/golden_export/``.
"""

from __future__ import annotations

import glob
import os
import re
import sys

GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden_export")

GOLDEN_CONF = (
    "MSH;MESH,MESH.ttl,load_on_codes\n"
    "SNOMEDCT_US,SNOMEDCT.ttl,load_on_codes\n"
    "ICD10CM,ICD10CM.ttl,load_on_codes\n"
    "HL7V3.0;HL7,HL7.ttl,load_on_cuis\n"
)
# a Spanish source sharing the CODE "100" with SNOMEDCT_US and ICD10CM
ISOLATION_CONF = GOLDEN_CONF + "MDRSPA,MDRSPA.ttl,load_on_codes\n"

WIDTHS = {
    "MRCONSO": 18, "MRREL": 16, "MRDEF": 8, "MRSAT": 13, "MRSTY": 6,
    "MRRANK": 4, "MRSAB": 25, "MRDOC": 4,
}


def _conso(cui, sab, tty, code, text, aui, lat="ENG", ispref="Y", stt="PF",
           suppress="N"):
    return [cui, lat, "P", "", stt, "", ispref, aui, "", "", "", sab, tty,
            code, text, "0", suppress, ""]


def _rel(cui1, aui1, rel, cui2, aui2, sab, rela="", suppress="N"):
    """CUI1/AUI1 is the target (parent for CHD), CUI2/AUI2 the source."""
    return [cui1, aui1, "AUI", rel, cui2, aui2, "AUI", rela, "", "", sab,
            sab, "", "Y", suppress, ""]


def _sat(cui, code, atn, atv, sab):
    return [cui, "", "", "", "CODE", code, "", "", atn, sab, atv, "N", ""]


def _sab(rsab, vsab, ssn, curver, lat="ENG", sver="2025AB"):
    f = [""] * 25
    f[2], f[3], f[6], f[9], f[19], f[21], f[23] = (
        vsab, rsab, sver, "2025AB", lat, curver, ssn,
    )
    return f


TABLES = {
    "MRCONSO": [
        # MSH: D-codes, a tree, a qualifier code outside the tree
        _conso("C100", "MSH", "MH", "D001", "Body Regions", "A101"),
        _conso("C100", "MSH", "ET", "D001", "Anatomic regions", "A102",
               ispref="N", stt="VO"),
        _conso("C101", "MSH", "MH", "D002", "Head", "A103"),
        _conso("C101", "MSH", "MH", "D002", "Cabeza", "A104", lat="SPA"),
        _conso("C102", "MSH", "MH", "D003", "Face", "A105"),
        _conso("C102", "MSH", "ET", "D003", "Facies", "A106", suppress="O"),
        _conso("C103", "MSH", "QAB", "Q001", "adverse effects", "A107"),
        # SNOMEDCT_US: code mode, bogus parent, self-map, shared CODE "100"
        _conso("C200", "SNOMEDCT_US", "PT", "100", "Clinical finding", "A201"),
        _conso("C200", "SNOMEDCT_US", "SY", "100", "Finding", "A202",
               ispref="N", stt="VO"),
        _conso("C200", "SNOMEDCT_US", "FN", "100",
               "Clinical finding (finding)", "A203", ispref="N"),
        _conso("C201", "SNOMEDCT_US", "PT", "200", "Disorder of head", "A204"),
        _conso("C202", "SNOMEDCT_US", "PT", "300", 'Head "ache" \\ pain', "A205"),
        _conso("C202", "SNOMEDCT_US", "SY", "300", "Cephalgia", "A206",
               ispref="N"),
        _conso("C101", "SNOMEDCT_US", "PT", "400", "Head structure", "A207"),
        _conso("C999", "SNOMEDCT_US", "PT", "138875005", "SNOMED CT Concept",
               "A208"),
        # ICD10CM: shares CODE "100" with SNOMEDCT_US, patched root parent
        _conso("C300", "ICD10CM", "PT", "100", "Cholera group", "A301"),
        _conso("C301", "ICD10CM", "PT", "A00.1", "Cholera due to Vibrio", "A302"),
        _conso("C200", "ICD10CM", "PT", "R68", "Other findings", "A303"),
        # HL7V3.0: cuis mode; C101 also in MSH and SNOMEDCT_US
        _conso("C400", "HL7V3.0", "PT", "ACT", "Act class", "A401"),
        _conso("C400", "HL7V3.0", "SY", "ACT", "Act", "A402", ispref="N",
               stt="VO"),
        _conso("C401", "HL7V3.0", "SY", "ENT", "Other pref", "A403", stt="VC"),
        _conso("C401", "HL7V3.0", "PT", "ENT", "Entity class", "A404"),
        _conso("C101", "HL7V3.0", "PT", "HEAD", "Head HL7", "A405"),
        # MDRSPA: Spanish source, CODE "100" again
        _conso("C200", "MDRSPA", "PT", "100", "Hallazgo clínico", "A501",
               lat="SPA"),
        _conso("C200", "MDRSPA", "PT", "100", "Clinical finding EN", "A502"),
        _conso("C202", "MDRSPA", "LLT", "300", "Cefalea", "A503", lat="SPA"),
        # SRC roots
        _conso("C900", "SRC", "RPT", "V-MSH", "MSH root", "A900"),
        _conso("C901", "SRC", "RPT", "V-SNOMEDCT_US", "SNOMED root", "A901"),
        _conso("C902", "SRC", "RPT", "V-HL7V3.0", "HL7 root", "A902"),
        _conso("C903", "SRC", "RPT", "V-MDRSPA", "MDR root", "A903"),
    ],
    "MRREL": [
        _rel("C900", "A900", "CHD", "C100", "A101", "MSH"),
        _rel("C100", "A101", "CHD", "C101", "A103", "MSH"),
        _rel("C101", "A103", "CHD", "C102", "A105", "MSH"),
        _rel("C101", "A103", "PAR", "C100", "A101", "MSH"),
        _rel("C102", "A105", "RO", "C101", "A103", "MSH", rela="part_of"),
        _rel("C901", "A901", "CHD", "C200", "A201", "SNOMEDCT_US"),
        _rel("C999", "A208", "CHD", "C200", "A201", "SNOMEDCT_US"),
        _rel("C200", "A201", "CHD", "C201", "A204", "SNOMEDCT_US"),
        _rel("C201", "A204", "CHD", "C202", "A205", "SNOMEDCT_US"),
        _rel("C201", "A204", "CHD", "C202", "A205", "SNOMEDCT_US"),
        _rel("C101", "A207", "RO", "C202", "A205", "SNOMEDCT_US",
             rela="finding_site_of"),
        _rel("C200", "A202", "RO", "C200", "A201", "SNOMEDCT_US",
             rela="self_map"),
        _rel("C202", "A205", "RO", "C201", "A204", "SNOMEDCT_US",
             rela="part_of", suppress="O"),
        _rel("C3264380", "A399", "CHD", "C300", "A301", "ICD10CM"),
        _rel("C300", "A301", "CHD", "C301", "A302", "ICD10CM"),
        _rel("C300", "A301", "RO", "C200", "A303", "ICD10CM",
             rela="finding_site_of"),
        # an ICD10CM row whose AUIs are SNOMEDCT_US atoms: resolves in no
        # document
        _rel("C201", "A204", "CHD", "C200", "A201", "ICD10CM"),
        _rel("C902", "A902", "CHD", "C400", "A401", "HL7V3.0"),
        _rel("C400", "A401", "CHD", "C401", "A404", "HL7V3.0"),
        _rel("C1553931", "A998", "CHD", "C401", "A404", "HL7V3.0"),
        _rel("C9999", "A997", "RO", "C401", "A403", "HL7V3.0",
             rela="has_part"),
        _rel("C401", "A404", "PAR", "C400", "A401", "HL7V3.0"),
        _rel("C101", "A405", "RO", "C400", "A401", "HL7V3.0"),
        _rel("C903", "A903", "CHD", "C200", "A501", "MDRSPA"),
        _rel("C200", "A501", "CHD", "C202", "A503", "MDRSPA"),
    ],
    "MRDEF": [
        ["C100", "A101", "", "", "MSH", "Areas of the body.", "N", ""],
        ["C202", "A205", "", "", "SNOMEDCT_US", 'A "pain" in the head', "N", ""],
        ["C202", "A205", "", "", "SNOMEDCT_US", "Second definition", "N", ""],
        ["C300", "A301", "", "", "ICD10CM", "Cholera codes.", "N", ""],
        ["C400", "", "", "", "HL7V3.0", "An act.", "N", ""],
        ["C200", "A501", "", "", "MDRSPA", "Hallazgo.", "N", ""],
    ],
    "MRSAT": [
        _sat("C100", "D001", "MN", "A01", "MSH"),
        _sat("C101", "D002", "MN", "A01.456", "MSH"),
        _sat("C102", "D003", "MN", "A01.456.505", "MSH"),
        _sat("C102", "D003", "MN", "A02", "MSH"),
        _sat("C103", "Q001", "MN", "Q1", "MSH"),
        _sat("C100", "D001", "AQ", "Q000001", "MSH"),
        _sat("C200", "100", "CTV3ID", "X1234", "SNOMEDCT_US"),
        _sat("C200", "100", "CTV3ID", "X1234", "SNOMEDCT_US"),
        _sat("C202", "300", "DA", "20240101", "SNOMEDCT_US"),
        _sat("C300", "100", "DA", "20230101", "ICD10CM"),
        _sat("C400", "ACT", "HL7_ATT", "v\\1", "HL7V3.0"),
        _sat("C200", "100", "DA", "20220101", "MDRSPA"),
    ],
    "MRSTY": [
        ["C100", "T017", "A1.2", "Anatomical Structure", "", ""],
        ["C101", "T017", "A1.2", "Anatomical Structure", "", ""],
        ["C101", "T023", "A1.2.3", "Body Part", "", ""],
        ["C102", "T023", "A1.2.3", "Body Part", "", ""],
        ["C200", "T033", "A2.2", "Finding", "", ""],
        ["C202", "T184", "A2.2.2", "Sign or Symptom", "", ""],
        ["C300", "T047", "B2", "Disease or Syndrome", "", ""],
        ["C400", "T052", "B1", "Activity", "", ""],
        ["C401", "T071", "A", "Entity", "", ""],
    ],
    "MRRANK": [
        ["0500", "MSH", "MH", "N"], ["0400", "MSH", "ET", "N"],
        ["0300", "SNOMEDCT_US", "PT", "N"], ["0299", "SNOMEDCT_US", "FN", "N"],
        ["0298", "SNOMEDCT_US", "SY", "N"], ["0200", "ICD10CM", "PT", "N"],
        ["0100", "HL7V3.0", "PT", "N"], ["0050", "MDRSPA", "LLT", "N"],
        ["0051", "MDRSPA", "PT", "N"],
    ],
    "MRSAB": [
        _sab("MSH", "MSH2025", "Medical Subject Headings", "Y"),
        _sab("SNOMEDCT_US", "SNOMEDCT_US_2024", "SNOMED old", "N",
             sver="2024"),
        _sab("SNOMEDCT_US", "SNOMEDCT_US_2025", 'SNOMED "CT" US', "Y",
             sver="2025"),
        _sab("ICD10CM", "ICD10CM2025", "ICD-10-CM", "Y"),
        _sab("HL7V3.0", "HL7V3.0_2025", "HL7 Version 3.0", "Y"),
        _sab("MDRSPA", "MDRSPA2025", "MedDRA Spanish", "Y", lat="SPA"),
    ],
    "MRDOC": [
        ["REL", "CHD", "expanded_form", "has child relationship"],
        ["REL", "PAR", "expanded_form", "has parent relationship"],
        ["REL", "RO", "expanded_form", "has relationship other than synonymous"],
        ["RELA", "finding_site_of", "expanded_form", "finding site of"],
        ["RELA", "finding_site_of", "rela_inverse", "has_finding_site"],
        ["RELA", "part_of", "expanded_form", "part of"],
        ["RELA", "has_part", "expanded_form", "has part"],
        ["RELA", "self_map", "expanded_form", "self map"],
        ["ATN", "MN", "expanded_form", "MeSH tree number"],
        ["ATN", "DA", "expanded_form", "Date of entry"],
        ["ATN", "CTV3ID", "expanded_form", "CTV3 identifier"],
        ["ATN", "HL7_ATT", "expanded_form", "HL7 attribute"],
    ],
}


def write_fixture(rrf_dir: str) -> str:
    """Write the fixture release as RRF files (rows end in '|')."""
    os.makedirs(rrf_dir, exist_ok=True)
    for name, rows in TABLES.items():
        with open(os.path.join(rrf_dir, f"{name}.RRF"), "w", encoding="utf-8") as fh:
            for row in rows:
                assert len(row) == WIDTHS[name], (name, row)
                fh.write("|".join(row) + "|\n")
    return rrf_dir


def read_documents(out_dir: str) -> dict[str, str]:
    """{file_out: document text}, part files concatenated in name order."""
    docs = {}
    for d in sorted(glob.glob(os.path.join(out_dir, "*.ttl"))):
        parts = sorted(glob.glob(os.path.join(d, "part-*")))
        docs[os.path.basename(d)] = "".join(
            open(p, encoding="utf-8").read() for p in parts
        )
    return docs


def export(spark, rrf_dir: str, conf: str, out_dir: str) -> dict[str, str]:
    from umls2rdf_spark.pipeline import load_umls_tables, run_pipeline

    run_pipeline(load_umls_tables(spark, rrf_dir), conf, out_dir, resume=False)
    return read_documents(out_dir)


def test_batched_export_matches_golden(spark, tmp_path):
    """Every document of a 4-entry batch (code mode, cuis mode, the MSH
    tree with MN roots, the ICD10CM root patch) is byte-identical to the
    checked-in output of the per-entry exporter."""
    rrf = write_fixture(str(tmp_path / "rrf"))
    docs = export(spark, rrf, GOLDEN_CONF, str(tmp_path / "out"))
    expected = {
        name: open(os.path.join(GOLDEN_DIR, name), encoding="utf-8").read()
        for name in sorted(os.listdir(GOLDEN_DIR))
    }
    assert sorted(docs) == sorted(expected)
    for name, text in expected.items():
        assert docs[name] == text, name


def test_sources_isolated_in_batch(spark, tmp_path):
    """Two code-mode SABs share CODE '100' and AUI-bridged relations, a
    load_on_cuis SAB shares CUIs with code-mode SABs and a Spanish SAB
    shares the CODE again: each document of the batch equals, byte for
    byte, the document a one-entry conf of its SAB writes."""
    rrf = write_fixture(str(tmp_path / "rrf"))
    batched = export(spark, rrf, ISOLATION_CONF, str(tmp_path / "batch"))
    assert len(batched) == 6
    for i, line in enumerate(ISOLATION_CONF.splitlines()):
        one = export(spark, rrf, line + "\n", str(tmp_path / f"one-{i}"))
        file_out = line.split(",")[1]
        assert batched[file_out] == one[file_out], file_out
        assert batched["umls_semantictypes.ttl"] == one["umls_semantictypes.ttl"]
    spa = batched["MDRSPA.ttl"]
    assert '"""Hallazgo clínico"""@es' in spa
    assert "Clinical finding EN" not in spa
    icd = batched["ICD10CM.ttl"]
    assert "Clinical finding" not in icd and "CTV3ID" not in icd


def _mrconso_scans(df) -> int:
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )
    # one "(n) Scan csv" node per scan; its details name the file
    nodes = re.split(r"\n\(\d+\) ", plan)
    return sum(
        1 for n in nodes if n.startswith("Scan csv") and "MRCONSO.RRF" in n
    )


def test_mrconso_scans_do_not_grow_with_entries(spark, tmp_path):
    """The export plan scans MRCONSO as often for one conf entry as for
    four: the batch is keyed on (doc, class), not built per entry."""
    from umls2rdf_spark.pipeline import load_umls_tables, parse_conf
    from umls2rdf_spark.rdf.ontology import (
        OntologySpec,
        assemble_document,
        ontology_documents,
    )

    tables = load_umls_tables(spark, write_fixture(str(tmp_path / "rrf")))

    def scans(conf: str) -> int:
        specs = [
            OntologySpec.from_conf(
                e.umls_code, f"http://x/{e.umls_code}/", "ENG",
                e.load_on_cuis, None,
            )
            for e in parse_conf(conf)
        ]
        docs = ontology_documents(tables, specs, semantic_types_doc=True)
        return _mrconso_scans(assemble_document(docs, ordered=True))

    lines = GOLDEN_CONF.splitlines(keepends=True)
    with_tree = scans(lines[0])  # MSH
    assert 0 < with_tree == scans(GOLDEN_CONF)
    # without an MSH entry the mesh tree's scans drop out
    assert scans(lines[1]) == scans("".join(lines[1:])) < with_tree


if __name__ == "__main__":
    from umls2rdf_spark.session import get_spark

    out = sys.argv[1]
    session = get_spark(app_name="golden-export", shuffle_partitions=4)
    docs = export(session, write_fixture(out + "-rrf"), GOLDEN_CONF, out + "-raw")
    os.makedirs(out, exist_ok=True)
    for name, text in docs.items():
        with open(os.path.join(out, name), "w", encoding="utf-8") as fh:
            fh.write(text)
    session.stop()
