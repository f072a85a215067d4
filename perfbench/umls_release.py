"""Seeded synthetic UMLS Metathesaurus release for the export workload.

Writes the eight RRF tables ``load_umls_tables`` reads (MRCONSO MRREL
MRDEF MRSAT MRSTY MRRANK MRSAB MRDOC; pipe-delimited, every row ending
in ``|``) and a ``umls.conf`` naming four sources:

- ``MSH;MESH``: load_on_codes with D-codes, so the export takes the
  MeSH tree path (CHD rels on D-codes + ``MN`` tree numbers);
- ``HL7V3.0;HL7``: load_on_cuis;
- ``SNOMEDCT_US`` and ``NCI``: load_on_codes.

Every source has a ``SRC``/``V-<SAB>`` root atom with CHD rows to its
top concepts, MRRANK ranks per term type, MRDOC docs for each REL,
RELA and ATN used, non-English and suppressed atoms, and literals with
quotes, backslashes and non-ASCII text. Output depends only on
(seed, n_concepts).
"""

from __future__ import annotations

import os
import random

CONF = (
    "MSH;MESH,MESH.ttl,load_on_codes\n"
    "SNOMEDCT_US,SNOMEDCT.ttl,load_on_codes\n"
    "NCI,NCI.ttl,load_on_codes\n"
    "HL7V3.0;HL7,HL7.ttl,load_on_cuis\n"
)
# (sab, share of concepts in the source, code prefix, load_on_cuis)
SOURCES = (
    ("MSH", 0.35, "D", False),
    ("SNOMEDCT_US", 0.45, "", False),
    ("NCI", 0.35, "C", False),
    ("HL7V3.0", 0.12, "", True),
)
MRCONSO_COLS = (
    "CUI LAT TS LUI STT SUI ISPREF AUI SAUI SCUI SDUI SAB TTY CODE STR SRL "
    "SUPPRESS CVF"
).split()
# (TUI, STN, STY): STN prefixes form the semantic-type tree
STYS = (
    ("T071", "A", "Entity"), ("T051", "B", "Event"),
    ("T072", "A1", "Physical Object"), ("T077", "A2", "Conceptual Entity"),
    ("T001", "A1.1", "Organism"), ("T017", "A1.2", "Anatomical Structure"),
    ("T073", "A1.3", "Manufactured Object"),
    ("T121", "A1.4", "Pharmacologic Substance"),
    ("T052", "B1", "Activity"), ("T053", "B1.1", "Behavior"),
    ("T170", "A2.4", "Intellectual Product"),
    ("T082", "A2.1", "Spatial Concept"), ("T033", "A2.2", "Finding"),
    ("T184", "A2.2.2", "Sign or Symptom"),
    ("T047", "B2", "Disease or Syndrome"),
)
RELAS = ("has_finding_site", "may_treat", "associated_with", "")
RANKED_TTYS = ("PT", "MH", "FN", "SY", "ET")
WORDS = (
    "acute chronic renal cardiac neural hepatic viral lesion syndrome "
    "disorder fracture infection tumor protein receptor kinase enzyme "
    "cell tissue membrane pain fever therapy agent dose lateral distal"
).split()
# literal decorations the Turtle escaper must handle
ODD = (
    'Crohn\'s', '"quoted"', "back\\slash", "Ménière", "Sjögren", "β-blocker",
    "naïve", "中文", "Ø", "end\\", 'say ""hi""',
)
FOREIGN = (("SPA", "enfermedad"), ("FRE", "maladie"), ("GER", "Krankheit"))


def _text(rng: random.Random, n_words: int) -> str:
    words = [rng.choice(WORDS) for _ in range(n_words)]
    if rng.random() < 0.25:
        words.insert(rng.randrange(len(words) + 1), rng.choice(ODD))
    return " ".join(words)


def _row(fields: list[str]) -> str:
    return "|".join(fields) + "|"


def generate(out_dir: str, seed: int, n_concepts: int) -> None:
    """Write the release and ``umls.conf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    conso: list[str] = []
    rel: list[str] = []
    defs: list[str] = []
    sat: list[str] = []
    sty: list[str] = []
    ids = {"aui": 0, "rui": 0, "atui": 0}

    def next_id(kind: str, prefix: str) -> str:
        ids[kind] += 1
        return f"{prefix}{ids[kind]:08d}"

    def atom(cui, lat, ts, stt, ispref, sab, tty, code, text, suppress="N"):
        aui = next_id("aui", "A")
        conso.append(_row([
            cui, lat, ts, f"L{aui[1:]}", stt, f"S{aui[1:]}", ispref, aui,
            "", "", "", sab, tty, code, text, "0", suppress, "",
        ]))
        return aui

    def relation(cui1, aui1, rel_type, cui2, aui2, rela, sab, suppress="N"):
        rel.append(_row([
            cui1, aui1, "AUI", rel_type, cui2, aui2, "AUI", rela,
            next_id("rui", "R"), "", sab, sab, "", "Y", suppress, "",
        ]))

    cuis = [f"C{i:07d}" for i in range(1, n_concepts + 1)]
    for cui in cuis:
        for tui, stn, name in rng.sample(STYS, rng.choice((1, 1, 2))):
            sty.append(_row([cui, tui, stn, name, next_id("atui", "AT"), ""]))

    for s_idx, (sab, share, prefix, _) in enumerate(SOURCES):
        root_cui = f"C9{s_idx:06d}"
        root_aui = atom(
            root_cui, "ENG", "P", "PF", "Y", "SRC", "RPT", f"V-{sab}",
            f"{sab} root",
        )
        members = [c for c in cuis if rng.random() < share]
        pt_aui: dict[str, str] = {}
        codes: dict[str, str] = {}
        for n, cui in enumerate(members):
            code = f"{prefix}{100000 + n * 7 + s_idx}"
            codes[cui] = code
            label = _text(rng, rng.randint(2, 5))
            pt_aui[cui] = atom(cui, "ENG", "P", "PF", "Y", sab, "PT", code, label)
            for _ in range(rng.choice((0, 1, 1, 2))):
                tty = rng.choice(("SY", "ET", "FN", "MH"))
                atom(cui, "ENG", "S", "VO", "N", sab, tty, code,
                     _text(rng, rng.randint(2, 5)))
            if rng.random() < 0.15:
                lat, word = rng.choice(FOREIGN)
                atom(cui, lat, "P", "PF", "N", sab, "PT", code,
                     f"{word} {_text(rng, 2)}")
            if rng.random() < 0.05:
                atom(cui, "ENG", "S", "VO", "N", sab, "SY", code,
                     _text(rng, 3), suppress=rng.choice(("O", "Y", "E")))
            if rng.random() < 0.4:
                defs.append(_row([
                    cui, pt_aui[cui], next_id("atui", "AT"), "", sab,
                    _text(rng, rng.randint(6, 20)), "N", "",
                ]))
            attrs = [("DA", f"20{rng.randint(10, 25)}0{rng.randint(1, 9)}01")]
            if rng.random() < 0.3:
                attrs.append(("SOS", _text(rng, rng.randint(4, 10))))
            if rng.random() < 0.1:
                attrs.append(("AQ", "Q000000"))
            for atn, atv in attrs:
                sat.append(_row([
                    cui, "", "", pt_aui[cui], "CODE", code,
                    next_id("atui", "AT"), "", atn, sab, atv, "N", "",
                ]))

        # hierarchy: the first members hang off the SRC root, the rest
        # pick an earlier member as parent
        tree_no: dict[str, str] = {}
        for n, cui in enumerate(members):
            if n < 5:
                parent_cui, parent_aui = root_cui, root_aui
                tree_no[cui] = f"C{n + 1:02d}"
            else:
                parent_cui = members[rng.randrange(n)]
                parent_aui = pt_aui[parent_cui]
                tree_no[cui] = f"{tree_no[parent_cui]}.{n:03d}"
            relation(parent_cui, parent_aui, "CHD", cui, pt_aui[cui], "", sab)
            if parent_cui != root_cui:
                relation(cui, pt_aui[cui], "PAR", parent_cui, parent_aui, "", sab)
            for _ in range(rng.choice((0, 0, 1, 2))):
                other = members[rng.randrange(len(members))]
                if other != cui:
                    relation(other, pt_aui[other], "RO", cui, pt_aui[cui],
                             rng.choice(RELAS), sab,
                             suppress="O" if rng.random() < 0.03 else "N")
        if sab == "MSH":
            for cui in members:
                sat.append(_row([
                    cui, "", "", pt_aui[cui], "CODE", codes[cui],
                    next_id("atui", "AT"), "", "MN", sab, tree_no[cui], "N", "",
                ]))

    rank = []
    next_rank = 900
    for sab, *_ in SOURCES:
        for tty in RANKED_TTYS:
            rank.append(_row([f"{next_rank:04d}", sab, tty, "N"]))
            next_rank -= 1
    rank.append(_row(["0001", "SRC", "RPT", "N"]))

    mrsab = []
    for sab, *_ in SOURCES:
        for curver, version in (("Y", "2025AB"), ("N", "2024AA")):
            f = [""] * 25
            f[2], f[3] = f"{sab}_{version}", sab
            f[4] = f'{sab} source "{version}" — Ménière\\edition'
            f[6], f[9], f[19], f[21], f[22] = version, version, "ENG", curver, "Y"
            f[23] = f'{sab} "short" näme'
            mrsab.append(_row(f))

    doc = []
    for value, expl in (
        ("CHD", "has child relationship in a Metathesaurus source vocabulary"),
        ("PAR", "has parent relationship in a Metathesaurus source vocabulary"),
        ("RO", "has relationship other than synonymous, narrower, or broader"),
    ):
        doc.append(_row(["REL", value, "expanded_form", expl]))
    for rela in RELAS[:-1]:
        doc.append(_row(["RELA", rela, "expanded_form", rela.replace("_", " ")]))
        doc.append(_row(["RELA", rela, "rela_inverse", f"inverse_{rela}"]))
    for atn, expl in (
        ("DA", "Date of entry"), ("SOS", 'Scope "statement"'),
        ("MN", "MeSH tree number"), ("AQ", "Allowable qualifier"),
    ):
        doc.append(_row(["ATN", atn, "expanded_form", expl]))

    for name, rows in (
        ("MRCONSO", conso), ("MRREL", rel), ("MRDEF", defs), ("MRSAT", sat),
        ("MRSTY", sty), ("MRRANK", rank), ("MRSAB", mrsab), ("MRDOC", doc),
    ):
        with open(os.path.join(out_dir, f"{name}.RRF"), "w", encoding="utf-8") as fh:
            fh.write("\n".join(rows) + "\n")
    with open(os.path.join(out_dir, "umls.conf"), "w") as fh:
        fh.write(CONF)


def class_counts(rrf_dir: str) -> dict[str, int]:
    """Distinct class keys per source, counted by DuckDB over
    MRCONSO.RRF: English, unsuppressed atoms with a non-empty key (CUI
    for load_on_cuis sources, CODE otherwise)."""
    import duckdb

    cols = ", ".join(f"'{c}': 'VARCHAR'" for c in MRCONSO_COLS + ["_trailing"])
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW mrconso AS SELECT * FROM read_csv("
            f"'{os.path.join(rrf_dir, 'MRCONSO.RRF')}', delim='|', "
            "header=false, quote='', escape='', auto_detect=false, "
            f"columns={{{cols}}})"
        )
        out = {}
        for sab, _, _, load_on_cuis in SOURCES:
            key = "CUI" if load_on_cuis else "CODE"
            out[sab] = con.execute(
                f"SELECT count(DISTINCT {key}) FROM mrconso WHERE SAB = ? "
                "AND lower(LAT) = 'eng' AND SUPPRESS = 'N' "
                f"AND coalesce({key}, '') <> ''",
                [sab],
            ).fetchone()[0]
        return out
    finally:
        con.close()
