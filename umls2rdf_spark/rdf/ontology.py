"""End-to-end UMLS ontology → Turtle export as one DataFrame plan.

This is the Spark rebuild of the reference's whole pipeline
(UmlsOntology at umls2rdf.py:536, UmlsClass.toRDF at umls2rdf.py:391):
the reference loads every table into driver RAM and loops over codes,
one source (SAB) at a time; here every configured source is exported
by the same plan. Each row carries a document index ``doc`` (one per
umls.conf entry), every aggregate and join is keyed on (doc, class
key), and the per-entry settings (CODE-vs-CUI key, language, namespace,
hierarchy, the MSH tree and MN-root rule, the ICD10CM root patch)
become per-row columns or driver-built literal maps. MRCONSO, MRREL,
MRSAT and MRDEF are scanned the same number of times for one entry as
for sixty, and the job count does not grow with the number of entries.
Measured on the four-source benchmark release (50k concepts), the
executed plan of the whole export holds 18 shuffle Exchanges (every
aggregate and join keyed on (doc, class key), the document sort, the
small MRSTY / MRRANK / MRDOC / root sides) and 6 MRCONSO scans; the
per-source plans it replaces held 20-22 shuffle Exchanges each.

Rendering mirrors the reference byte-for-byte where the reference is
deterministic; where it depends on MySQL row order (tie-breaks among
equally-ranked atoms), we use an explicit total order (documented on
each function).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from umls2rdf_spark.functions.text import UMLS_LANGCODE_MAP, url_term
from umls2rdf_spark.rdf.turtle import (
    HAS_CUI,
    HAS_STY,
    HAS_TUI,
    PREFIXES,
    class_header,
    lang_literal_list,
    literal_triple,
    object_triple,
    subclass_triple,
    tq,
)

# Bogus hierarchy parents skipped by the reference (umls2rdf.py:438-446).
BOGUS_PARENTS = ("ICD-10-CM", "138875005", "V-HL7V3.0", "C1553931")

# ICD10CM's patched root parent (umls2rdf.py:706-708, code mode only).
ICD10CM_ROOT_CUI = "C3264380"

_OWL_THING_SUB = "\trdfs:subClassOf owl:Thing ;\n"

# semantic_types_lines sort keys of the owl:Thing root lines end with
# this suffix (they sort after a TUI's edges)
_STY_ROOT_SUFFIX = ":~"

# write_properties always declares hasSTY before the MRDOC-derived
# properties (umls2rdf.py:801-811); template is toRDFWithDesc
# (umls2rdf.py:501-508) byte-for-byte, including its "    \t" indent.
HASSTY_PROPERTY_BLOCK = (
    "umls:hasSTY a owl:ObjectProperty ;\n"
    '    \trdfs:label """Semantic type UMLS property""";\n'
    '    \trdfs:comment """Semantic type UMLS property""" .\n'
    "    \n"
)


@dataclass(frozen=True)
class OntologySpec:
    """Settings of one exported document (one umls.conf entry).

    ``code`` is the SAB, ``ns`` the namespace IRI, ``lat`` the MRCONSO
    language kept, ``load_on_cuis`` keys classes by CUI instead of
    CODE, ``hierarchy`` renders CHD rels as rdfs:subClassOf,
    ``mesh_tree`` takes parents from the MeSH tree (plus the MN-root
    rule), ``header`` is the rendered prefixes + ontology header."""

    code: str
    ns: str
    lat: str = "eng"
    load_on_cuis: bool = False
    hierarchy: bool = True
    mesh_tree: bool = False
    header: str = ""

    @classmethod
    def from_conf(
        cls,
        code: str,
        ns: str,
        lat: str,
        load_on_cuis: bool,
        mrsab_row: dict | None,
        umls_version: str = "2025AB",
    ) -> "OntologySpec":
        """A conf entry's document: the reference's per-SAB rules
        (umls2rdf.py:874-880 — MSH takes its parents from the mesh
        tree, with hierarchy off) and its header from the MRSAB row."""
        return cls(
            code, ns, lat, load_on_cuis, hierarchy=code != "MSH",
            mesh_tree=code == "MSH",
            header=PREFIXES + ontology_header(mrsab_row, code, ns, umls_version),
        )

    @property
    def lang(self) -> str:
        return UMLS_LANGCODE_MAP[self.lat.lower()]


def _specs(
    ontologies: str | Sequence[OntologySpec],
    ns: str | None,
    lat: str,
    load_on_cuis: bool,
    hierarchy: bool,
    mesh_tree: bool,
) -> list[OntologySpec]:
    """A batch of specs, or the one-entry batch of a single SAB."""
    if isinstance(ontologies, str):
        return [
            OntologySpec(
                ontologies, ns or "", lat, load_on_cuis, hierarchy, mesh_tree
            )
        ]
    return list(ontologies)


def _per_doc(values: list) -> Column:
    """A per-document setting (``values[doc]``) as a column of ``doc``:
    a literal when every document agrees, else a driver-built literal
    map lookup."""
    if len(set(values)) == 1:
        return F.lit(values[0])
    pairs = [F.lit(x) for i, v in enumerate(values) for x in (i, v)]
    return F.create_map(*pairs)[F.col("doc")]


def _cuis_mode(specs: list[OntologySpec]) -> Column:
    return _per_doc([s.load_on_cuis for s in specs])


def _doc_ids(
    specs: list[OntologySpec], key: Column, key_of: Callable[[OntologySpec], str]
) -> Column:
    """``doc`` of every document whose ``key_of(spec)`` equals ``key``,
    exploded (driver-built literal map, no join): a SAB listed twice
    maps its rows to both documents; rows of other keys drop out."""
    docs: dict[str, list[int]] = {}
    for i, s in enumerate(specs):
        docs.setdefault(key_of(s), []).append(i)
    pairs = [
        x
        for k, ids in sorted(docs.items())
        for x in (F.lit(k), F.array(*[F.lit(i) for i in ids]))
    ]
    return F.explode(F.create_map(*pairs)[key])


def _sabs(specs: list[OntologySpec]) -> list[str]:
    return sorted({s.code for s in specs})


def _tag_docs(df: DataFrame, specs: list[OntologySpec]) -> DataFrame:
    """Rows of ``df`` for the batch's SABs, each with its ``doc``."""
    return df.where(F.col("SAB").isin(_sabs(specs))).withColumn(
        "doc", _doc_ids(specs, F.col("SAB"), lambda s: s.code)
    )


def filter_atoms(mrconso: DataFrame, specs: list[OntologySpec]) -> DataFrame:
    """MRCONSO scan for the batch: SAB/LAT/SUPPRESS filters pushed to
    the source (load_tables at umls2rdf.py:598-605), ``doc`` and the
    class key column ``code`` (CODE or CUI, get_code at
    umls2rdf.py:142)."""
    # case-insensitive LAT match: the reference lowercases MRSAB.LAT
    # and relies on MySQL's case-insensitive collation
    # (umls2rdf.py:594-599); Spark compares case-sensitively.
    atoms = _tag_docs(mrconso.where(F.col("SUPPRESS") == "N"), specs).where(
        F.lower(F.col("LAT")) == _per_doc([s.lat.lower() for s in specs])
    )
    code = F.when(_cuis_mode(specs), F.col("CUI")).otherwise(F.col("CODE"))
    return atoms.withColumn("code", code).where(
        F.col("code").isNotNull() & (F.col("code") != "")
    )


def root_cuis(mrconso: DataFrame, specs: list[OntologySpec]) -> DataFrame:
    """SRC 'V-<SAB>' atoms → (doc, __root_cui) (umls2rdf.py:612-617)."""
    return (
        mrconso.where(
            (F.col("SAB") == "SRC")
            & F.col("CODE").isin([f"V-{s}" for s in _sabs(specs)])
        )
        .select(
            _doc_ids(specs, F.col("CODE"), lambda s: f"V-{s.code}").alias("doc"),
            F.col("CUI").alias("__root_cui"),
        )
        .distinct()
    )


def class_labels(
    atoms: DataFrame, mrrank: DataFrame, specs: list[OntologySpec]
) -> DataFrame:
    """One row per (doc, code): preferred label, sorted alt labels
    (distinct STR != prefLabel) and sorted CUIs, from one aggregate.

    Code mode (umls2rdf.py:320-332): max MRRANK rank wins, fallback
    'P' in TTY. Cuis mode (umls2rdf.py:295-319): ISPREF='Y' →
    STT='PF' → TTY starts with 'P' cascade. Both are one min() over a
    per-row sort key; AUI (then STR) breaks the ties the reference
    leaves to MySQL row order.
    """
    rank = (
        mrrank.where(F.col("SAB").isin(_sabs(specs)))
        # a duplicated (SAB, TTY) rank row must not fan out the atom
        # side through the join (the reference indexes
        # rank_by_tty[tty][0], i.e. first row wins)
        .groupBy("SAB", "TTY")
        .agg(F.max(F.col("RANK").cast("int")).alias("__rank"))
    )
    ranked = atoms.join(F.broadcast(rank), on=["SAB", "TTY"], how="left")
    cuis = _cuis_mode(specs)

    def flag(cond: Column) -> Column:
        return F.when(cond, 0).otherwise(1)

    # code mode: rank descending, nulls last
    key = F.struct(
        F.when(cuis, flag(F.col("ISPREF") == "Y"))
        .otherwise(flag(F.col("__rank").isNotNull()))
        .alias("k0"),
        F.when(cuis, flag(F.col("STT") == "PF"))
        .otherwise(-F.col("__rank"))
        .alias("k1"),
        F.when(cuis, flag(F.col("TTY").startswith("P")))
        .otherwise(flag(F.col("TTY").contains("P")))
        .alias("k2"),
        F.col("AUI"),
        F.col("STR"),
    )
    best = F.col("__best")["STR"]
    return (
        ranked.groupBy("doc", "code")
        .agg(
            F.min(key).alias("__best"),
            F.collect_set("STR").alias("__strs"),
            F.array_sort(F.collect_set("CUI")).alias("cuis"),
        )
        .select(
            "doc",
            "code",
            best.alias("pref_label"),
            F.array_sort(
                F.filter(F.col("__strs"), lambda s: s != best)
            ).alias("alt_labels"),
            "cuis",
        )
    )


def _key_bridge(atoms: DataFrame, specs: list[OntologySpec]) -> DataFrame:
    """(doc, __key, __code): the atom key → class code bridge — AUI in
    code mode, CUI (= the code) in cuis mode."""
    key = F.when(_cuis_mode(specs), F.col("CUI")).otherwise(F.col("AUI"))
    return atoms.select(
        "doc", key.alias("__key"), F.col("code").alias("__code")
    ).dropDuplicates(["doc", "__key"])


def _fragment() -> Column:
    """RELA if non-empty else REL (get_rel_fragment, umls2rdf.py:131)."""
    return F.when(
        F.col("RELA").isNotNull() & (F.col("RELA") != ""), F.col("RELA")
    ).otherwise(F.col("REL"))


def relations(
    tables: dict[str, DataFrame],
    atoms: DataFrame,
    specs: list[OntologySpec],
) -> DataFrame:
    """Rels with the SOURCE endpoint resolved to a class code and the
    target resolved where possible: (doc, code, REL, RELA, CUI1,
    target_code, resolved).

    Code mode: AUI2→source code and AUI1→target code through the atom
    bridge, self-maps unresolved (terms() at umls2rdf.py:698-727).
    Cuis mode: CUI2/CUI1 are already the codes (umls2rdf.py:692-697).
    Rows whose target is not resolved stay: the reference tests
    root-ness before the target-code checks (umls2rdf.py:689-713), so
    rels pointing at out-of-ontology atoms, e.g. the SRC hierarchy
    root, still count for it.
    """
    cuis = _cuis_mode(specs)
    bridge = _key_bridge(atoms, specs)

    def resolve(rels: DataFrame, cui: str, aui: str, out: str) -> DataFrame:
        keyed = rels.withColumn(
            "__key", F.when(cuis, F.col(cui)).otherwise(F.col(aui))
        )
        return (
            keyed.join(bridge, on=["doc", "__key"], how="left")
            .withColumn(out, F.when(cuis, F.col(cui)).otherwise(F.col("__code")))
            .drop("__key", "__code")
        )

    rels = _tag_docs(
        tables["MRREL"].where(F.col("SUPPRESS") == "N"), specs
    ).select("doc", "CUI1", "AUI1", "REL", "CUI2", "AUI2", "RELA")
    src = resolve(rels, "CUI2", "AUI2", "code").where(
        cuis | F.col("code").isNotNull()
    )
    both = resolve(src, "CUI1", "AUI1", "target_code")
    resolved = cuis | (
        F.col("target_code").isNotNull()
        & (F.col("code") != F.col("target_code"))
    )
    return both.select(
        "doc", "code", "REL", "RELA", "CUI1", "target_code",
        resolved.alias("resolved"),
    )


def _emit_obj(specs: list[OntologySpec]) -> Column:
    """Rels rendered as object-property triples (umls2rdf.py:447-451)."""
    return (F.col("REL") != "PAR") & ~(
        (F.col("REL") == "CHD") & _per_doc([s.hierarchy for s in specs])
    )


def _attributes(
    mrsat: DataFrame, specs: list[OntologySpec]
) -> DataFrame:
    """(doc, code, ATN, ATV) MRSAT rows keyed like the classes."""
    cuis = _cuis_mode(specs)
    # the reference filters CODE IS NOT NULL even when keying by CUI
    # (mrsat_filt at umls2rdf.py:643); the key column is additionally
    # non-null/non-empty so rows land on a class.
    atts = _tag_docs(
        mrsat.where(F.col("CODE").isNotNull() & (F.col("ATN") != "AQ")),
        specs,
    ).withColumn("code", F.when(cuis, F.col("CUI")).otherwise(F.col("CODE")))
    return atts.where(
        F.col("code").isNotNull() & (F.col("code") != "")
    ).select("doc", "code", "ATN", "ATV")


def term_blocks(
    tables: dict[str, DataFrame],
    ontologies: str | Sequence[OntologySpec],
    ns: str | None = None,
    lat: str = "eng",
    load_on_cuis: bool = False,
    hierarchy: bool = True,
    tree: DataFrame | None = None,
    dedupe: bool = True,
) -> DataFrame:
    """(doc, code, ttl) — one rendered Turtle class block per class of
    every document, byte-compatible with UmlsClass.toRDF
    (umls2rdf.py:391-490).

    ``ontologies`` is a list of OntologySpec (doc = its index), or one
    SAB whose settings are the keyword arguments (doc 0). ``tree`` is
    the (parent, child) mesh tree used by the ``mesh_tree`` documents
    (tree parents emitted instead of CHD rels); a batch with such a
    document derives it from MRREL/MRCONSO when not given.
    """
    specs = _specs(
        ontologies, ns, lat, load_on_cuis, hierarchy, tree is not None
    )
    tree_docs = [i for i, s in enumerate(specs) if s.mesh_tree]
    if tree is None and tree_docs:
        tree = mesh_tree(tables["MRREL"], tables["MRCONSO"])
    ns_col = _per_doc([s.ns for s in specs])
    lang = _per_doc([s.lang for s in specs])
    hier = _per_doc([s.hierarchy for s in specs])
    in_tree = _per_doc([s.mesh_tree for s in specs])
    cuis_mode = _cuis_mode(specs)
    icd = _per_doc([s.code == "ICD10CM" for s in specs])

    mrconso = tables["MRCONSO"]
    atoms = filter_atoms(mrconso, specs)
    mrrank = tables.get("MRRANK", _empty_like(mrconso, "RANK SAB TTY SUPPRESS"))
    classes = class_labels(atoms, mrrank, specs)

    # ── definitions: joined by AUI (code mode) / CUI (cuis mode) ────
    mrdef = tables.get("MRDEF")
    if mrdef is not None:
        defs = (
            _tag_docs(mrdef, specs)
            .withColumn(
                "__key",
                F.when(cuis_mode, F.col("CUI")).otherwise(F.col("AUI")),
            )
            .join(_key_bridge(atoms, specs), on=["doc", "__key"])
            .groupBy("doc", F.col("__code").alias("code"))
            .agg(F.array_sort(F.collect_set("DEF")).alias("defs"))
        )
    else:
        defs = None

    # ── relations: classified, ordered, rendered; root flag ─────────
    # root detection (umls2rdf.py:692-713): CHD rel whose CUI1 is a
    # root CUI (code mode requires REL='CHD'; cuis mode any rel);
    # ICD10CM's patched root parent included; checked on every
    # source-resolved rel.
    roots = root_cuis(mrconso, specs).select(
        "doc", F.col("__root_cui").alias("CUI1"), F.lit(True).alias("__root")
    )
    rels = relations(tables, atoms, specs).join(
        F.broadcast(roots), on=["doc", "CUI1"], how="left"
    )
    chd = F.col("REL") == "CHD"
    is_root = (F.col("__root").isNotNull() & (cuis_mode | chd)) | (
        ~cuis_mode & icd & chd & (F.col("CUI1") == ICD10CM_ROOT_CUI)
    )
    emit_sub = (
        chd & hier & ~in_tree & ~F.col("target_code").isin(*BOGUS_PARENTS)
    )
    target = url_term(ns_col, F.col("target_code"))
    seg = F.when(
        F.col("resolved"),
        F.when(emit_sub, subclass_triple(target)).when(
            _emit_obj(specs),
            object_triple(url_term(ns_col, _fragment()), target),
        ),
    )
    rel_part = (
        rels.withColumn("__seg", seg)
        .groupBy("doc", "code")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__seg").isNotNull(),
                            F.struct(
                                F.when(chd, 0).otherwise(1).alias("k1"),
                                _fragment().alias("k2"),
                                F.col("target_code").alias("k3"),
                                F.col("code").alias("k4"),
                                F.col("__seg").alias("seg"),
                            ),
                        )
                    )
                ),
                lambda s: s["seg"],
            ).alias("rel_segs"),
            F.max(is_root).alias("is_root"),
        )
    )

    # ── tree parents (MSH mesh tree, umls2rdf.py:423-426) ──────────
    if tree is not None:
        tree_segments = (
            tree.groupBy(F.col("child").alias("code"))
            .agg(F.array_sort(F.collect_set("parent")).alias("parents"))
            .withColumn(
                "doc", F.explode(F.array(*[F.lit(i) for i in tree_docs]))
            )
            .select(
                "doc",
                "code",
                F.transform(
                    F.col("parents"),
                    lambda p: subclass_triple(url_term(ns_col, p)),
                ).alias("tree_segs"),
            )
        )
    else:
        tree_segments = None

    # ── attributes (umls2rdf.py:457-474) ────────────────────────────
    # rows of codes outside the class set drop out at the left join
    # onto the classes below
    mrsat = tables.get("MRSAT")
    if mrsat is not None:
        mn_root = (
            in_tree
            & (F.col("ATN") == "MN")
            & F.col("code").startswith("D")
            & (F.size(F.split(F.col("ATV"), "\\.")) == 1)
        )
        att = literal_triple(url_term(ns_col, F.col("ATN")), F.col("ATV"))
        att_arr = F.when(
            mn_root, F.array(F.lit(_OWL_THING_SUB), att)
        ).otherwise(F.array(att))
        att_segments = (
            _attributes(mrsat, specs)
            .withColumn("__segs", att_arr)
            .groupBy("doc", "code")
            .agg(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("ATN").alias("k1"),
                                    F.col("ATV").alias("k2"),
                                    F.col("__segs").alias("segs"),
                                )
                            )
                        ),
                        lambda s: s["segs"],
                    )
                ).alias("att_segs")
            )
        )
    else:
        att_segments = None

    # ── semantic types: TUIs per class (umls2rdf.py:477-488) ────────
    mrsty = tables.get("MRSTY")
    if mrsty is not None:
        # duplicate (CUI, TUI) pairs fold into the set
        tuis = (
            atoms.select("doc", "code", "CUI")
            .join(mrsty.select("CUI", "TUI"), on="CUI")
            .groupBy("doc", "code")
            .agg(F.array_sort(F.collect_set("TUI")).alias("tuis"))
        )
    else:
        tuis = None

    # ── assemble one row per (doc, code) ────────────────────────────
    base = classes
    for part in (defs, rel_part, tree_segments, att_segments, tuis):
        if part is not None:
            base = base.join(part, on=["doc", "code"], how="left")
    empty_arr = F.array().cast("array<string>")

    def arr(name: str, part: DataFrame | None) -> Column:
        return F.coalesce(F.col(name), empty_arr) if part is not None else empty_arr

    base = base.select(
        "doc",
        "code",
        "pref_label",
        "alt_labels",
        "cuis",
        arr("defs", defs).alias("defs"),
        arr("rel_segs", rel_part).alias("rel_segs"),
        arr("tree_segs", tree_segments).alias("tree_segs"),
        arr("att_segs", att_segments).alias("att_segs"),
        arr("tuis", tuis).alias("tuis"),
        F.coalesce(F.col("is_root"), F.lit(False)).alias("is_root"),
    )

    url = url_term(ns_col, F.col("code"))
    header = class_header(url, F.col("pref_label"), F.col("code"), lang)
    alt_part = F.when(
        F.size("alt_labels") > 0,
        F.concat(
            F.lit("\tskos:altLabel "),
            lang_literal_list(F.col("alt_labels"), lang),
            F.lit(" ;\n"),
        ),
    ).otherwise(F.lit(""))
    defs_part = F.when(
        F.size("defs") > 0,
        F.concat(
            F.lit("\tskos:definition "),
            lang_literal_list(F.col("defs"), lang),
            F.lit(" ;\n"),
        ),
    ).otherwise(F.lit(""))
    root_arr = F.when(
        F.col("is_root"), F.array(F.lit(_OWL_THING_SUB))
    ).otherwise(empty_arr)
    all_segs = F.concat(
        root_arr, F.col("tree_segs"), F.col("rel_segs"), F.col("att_segs")
    )
    if dedupe:
        all_segs = F.array_distinct(all_segs)
    # the root segment renders between altLabels and defs; drop it
    # from the tail (dedupe keeps it at index 0 when present)
    tail = F.when(
        F.col("is_root"), F.slice(all_segs, 2, F.size(all_segs))
    ).otherwise(all_segs)
    root_part = F.when(F.col("is_root"), F.lit(_OWL_THING_SUB)).otherwise(
        F.lit("")
    )
    cui_lines = F.concat_ws(
        "",
        F.transform(
            F.col("cuis"),
            lambda c: F.concat(
                F.lit(f"\t{HAS_CUI} "), tq(c), F.lit("^^xsd:string ;\n")
            ),
        ),
    )
    tui_lines = F.concat_ws(
        "",
        F.transform(
            F.col("tuis"),
            lambda t: F.concat(
                F.lit(f"\t{HAS_TUI} "), tq(t), F.lit("^^xsd:string ;\n")
            ),
        ),
    )
    # hasSTY objects use get_umls_url("STY") = UMLS_BASE_URI + "STY/"
    # (umls2rdf.py:488, conf UMLS_BASE_URI), not the bioportal prefix.
    sty_ns = "http://purl.bioontology.org/ontology/STY/"
    sty_lines = F.concat_ws(
        "",
        F.transform(
            F.col("tuis"),
            lambda t: F.concat(
                F.lit(f"\t{HAS_STY} <{sty_ns}"), t, F.lit("> ;\n")
            ),
        ),
    )
    block = F.concat(
        header,
        alt_part,
        root_part,
        defs_part,
        F.concat_ws("", tail),
        cui_lines,
        tui_lines,
        sty_lines,
        F.lit(" .\n\n"),
    )
    return base.select("doc", "code", block.alias("ttl"))


def mesh_tree(mrrel: DataFrame, mrconso: DataFrame) -> DataFrame:
    """MSH parent/child code pairs (mesh_tree at umls2rdf.py:201-217):
    MRREL CHD rows joined through MRCONSO on both CUIs, D-codes only,
    distinct."""
    rels = mrrel.where((F.col("SAB") == "MSH") & (F.col("REL") == "CHD"))
    c1 = mrconso.where(
        (F.col("SAB") == "MSH") & F.col("CODE").startswith("D")
    ).select(F.col("CUI").alias("__pcui"), F.col("CODE").alias("parent"))
    c2 = mrconso.where(
        (F.col("SAB") == "MSH") & F.col("CODE").startswith("D")
    ).select(F.col("CUI").alias("__ccui"), F.col("CODE").alias("child"))
    return (
        rels.join(c1, rels["CUI1"] == F.col("__pcui"))
        .join(c2, rels["CUI2"] == F.col("__ccui"))
        .select("parent", "child")
        .distinct()
    )


def semantic_types_lines(
    mrsty: DataFrame, with_roots: bool = False
) -> DataFrame:
    """STY hierarchy Turtle lines (generate_semantic_types,
    umls2rdf.py:153-189): one owl:Class block per TUI plus
    rdfs:subClassOf edges derived from the STN prefix tree.

    Returns (sort_key, line); order by sort_key for a deterministic
    document (the reference emits in DB scan order).
    """
    sty_url = "http://purl.bioontology.org/ontology/STY/"
    nodes = mrsty.select("TUI", "STN", "STY").distinct()
    term_line = F.concat(
        F.lit(f"<{sty_url}"), F.col("TUI"),
        F.lit("> a owl:Class ;\n\tskos:notation \""), F.col("TUI"),
        F.lit("\"^^xsd:string ;\n\tskos:prefLabel \""), F.col("STY"),
        F.lit("\"@en .\n"),
    )
    terms = nodes.select(
        F.concat(F.lit("0:"), F.col("TUI")).alias("sort_key"),
        term_line.alias("line"),
    )
    parent_stn = F.when(
        F.col("STN").contains("."),
        F.regexp_replace(F.col("STN"), "\\.[^.]*$", ""),
    ).otherwise(F.expr("substring(STN, 1, length(STN) - 1)"))
    child = nodes.select(
        F.col("TUI").alias("child_tui"),
        F.col("STN").alias("child_stn"),
        parent_stn.alias("parent_stn"),
    )
    parent = nodes.select(
        F.col("TUI").alias("parent_tui"), F.col("STN").alias("p_stn")
    )
    edges = (
        child.join(parent, child["parent_stn"] == parent["p_stn"], "left")
        .where(
            F.col("parent_tui").isNotNull()
            & (F.col("parent_tui") != F.col("child_tui"))
        )
        .select(
            F.concat(
                F.lit("1:"), F.col("child_tui"), F.lit(":"), F.col("parent_tui")
            ).alias("sort_key"),
            F.concat(
                F.lit(f"<{sty_url}"), F.col("child_tui"),
                F.lit(f"> rdfs:subClassOf <{sty_url}"), F.col("parent_tui"),
                F.lit("> ."),
            ).alias("line"),
        )
    )
    out = terms.unionByName(edges)
    if with_roots:
        has_parent = (
            child.join(parent, child["parent_stn"] == parent["p_stn"], "inner")
            .where(F.col("parent_tui") != F.col("child_tui"))
            .select(F.col("child_tui").alias("TUI"))
            .distinct()
        )
        root_lines = (
            nodes.join(has_parent, on="TUI", how="left_anti")
            .select(
                F.concat(
                    F.lit("1:"), F.col("TUI"), F.lit(_STY_ROOT_SUFFIX)
                ).alias("sort_key"),
                F.concat(
                    F.lit(f"<{sty_url}"), F.col("TUI"),
                    F.lit("> rdfs:subClassOf owl:Thing ."),
                ).alias("line"),
            )
        )
        out = out.unionByName(root_lines)
    return out




def used_properties(
    tables: dict[str, DataFrame],
    ontologies: str | Sequence[OntologySpec],
    lat: str = "eng",
    load_on_cuis: bool = False,
    hierarchy: bool = True,
) -> DataFrame:
    """Distinct (doc, att) property names each document will emit:
    object-property fragments from rels + datatype ATNs from atts (the
    ont_properties dict the reference accumulates per term,
    umls2rdf.py:453-474). ``ontologies`` as in term_blocks."""
    specs = _specs(ontologies, None, lat, load_on_cuis, hierarchy, False)
    atoms = filter_atoms(tables["MRCONSO"], specs)
    frags = (
        relations(tables, atoms, specs)
        .where(F.col("resolved") & _emit_obj(specs))
        .select("doc", _fragment().alias("att"))
        .distinct()
    )
    mrsat = tables.get("MRSAT")
    if mrsat is None:
        return frags
    atns = (
        _attributes(mrsat, specs)
        .select("doc", F.col("ATN").alias("att"))
        .distinct()
    )
    return frags.unionByName(atns).distinct()


def property_blocks(
    mrdoc: DataFrame, props: DataFrame, ns: Column | str
) -> DataFrame:
    """Rendered owl property declarations (UmlsAttribute.toRDF at
    umls2rdf.py:511-532 + MRDOC digestion at umls2rdf.py:853-864).

    ``props``: an 'att' column of property names used by the export
    (plus any key columns, e.g. ``doc``, kept in the output).
    Properties lacking an expanded_form are dropped (the reference
    raises; at scale we surface them by anti-join instead of failing
    the export).
    """
    docs = mrdoc.groupBy("VALUE").agg(
        F.min("DOCKEY").alias("dockey"),
        F.max(
            F.when(F.col("TYPE") == "expanded_form", F.col("EXPL"))
        ).alias("expanded_form"),
        F.max(
            F.when(F.col("TYPE").contains("inverse"), F.col("EXPL"))
        ).alias("inverse"),
    )
    joined = props.join(
        F.broadcast(docs), props["att"] == docs["VALUE"], "inner"
    ).where(F.col("expanded_form").isNotNull())
    desc = F.when(
        F.col("inverse").isNotNull(),
        F.concat(F.lit("Inverse of "), F.col("inverse")),
    ).otherwise(F.col("expanded_form"))
    ptype = F.when(F.col("dockey").contains("REL"), F.lit("ObjectProperty")).when(
        F.col("dockey") == "ATN", F.lit("DatatypeProperty")
    )
    # label: att; if len(desc) < 20 use desc; if '_' in that label,
    # rebuild from att with spaces and capitalize (umls2rdf.py:522-527)
    label1 = F.when(F.length(desc) < 20, desc).otherwise(F.col("att"))
    spaced = F.concat_ws(" ", F.split(F.col("att"), "_"))
    label = F.when(
        label1.contains("_"),
        F.concat(
            F.upper(F.substring(spaced, 1, 1)), F.expr(
                "substring(concat_ws(' ', split(att, '_')), 2)"
            )
        ),
    ).otherwise(label1)
    uri = url_term(ns, F.col("att"))
    block = F.concat(
        F.lit("<"), uri, F.lit("> a owl:"), ptype, F.lit(" ;\n\trdfs:label "),
        tq(label), F.lit(";\n\trdfs:comment "), tq(desc), F.lit(" .\n\n"),
    )
    return joined.where(ptype.isNotNull()).select(
        *props.columns, block.alias("ttl")
    )


def ontology_documents(
    tables: dict[str, DataFrame],
    specs: Sequence[OntologySpec],
    include_semantic_types: bool = True,
    semantic_types_doc: bool = False,
) -> DataFrame:
    """(doc, sort, ttl): every document of a batch as one frame
    (write_into at umls2rdf.py:745-789). Document ``i`` is ``specs[i]``:
    its header, class blocks, the hasSTY declaration, its property
    declarations and (``include_semantic_types``) the semantic-type
    lines. With ``semantic_types_doc`` document ``len(specs)`` is the
    umls_semantictypes document (generate_semantic_types,
    umls2rdf.py:153-189), which adds the owl:Thing root lines. Order
    each document by ``sort``; the semantic-type lines are built once
    for all documents.
    """
    spark = tables["MRCONSO"].sparkSession
    specs = list(specs)
    n = len(specs)
    has_sty = "MRSTY" in tables
    semantic_types_doc = semantic_types_doc and has_sty
    # hasSTY ObjectProperty declaration first in the property section
    # (write_properties, umls2rdf.py:801-811): sort key "2" < "2:…".
    fixed = [
        row
        for i, s in enumerate(specs)
        for row in ((i, "0", s.header), (i, "2", HASSTY_PROPERTY_BLOCK))
    ]
    if semantic_types_doc:
        fixed.append((n, "0", PREFIXES))
    parts = [spark.createDataFrame(fixed, "doc int, sort string, ttl string")]
    if specs:
        parts.append(
            term_blocks(tables, specs).select(
                "doc", F.concat(F.lit("1:"), F.col("code")).alias("sort"), "ttl"
            )
        )
        if "MRDOC" in tables:
            props = property_blocks(
                tables["MRDOC"], used_properties(tables, specs),
                _per_doc([s.ns for s in specs]),
            )
            parts.append(
                props.select(
                    "doc", F.concat(F.lit("2:"), F.col("att")).alias("sort"),
                    "ttl",
                )
            )
    sty_docs = list(range(n)) if include_semantic_types and has_sty else []
    if semantic_types_doc:
        sty_docs.append(n)
    if sty_docs:
        lines = semantic_types_lines(
            tables["MRSTY"], with_roots=semantic_types_doc
        )
        docs = F.when(
            F.col("sort_key").endswith(_STY_ROOT_SUFFIX), F.array(F.lit(n))
        ).otherwise(F.array(*[F.lit(d) for d in sty_docs]))
        parts.append(
            lines.withColumn("doc", F.explode(docs)).select(
                "doc",
                F.when(F.col("doc") == n, F.col("sort_key"))
                .otherwise(F.concat(F.lit("3:"), F.col("sort_key")))
                .alias("sort"),
                F.col("line").alias("ttl"),
            )
        )
    doc = parts[0]
    for p in parts[1:]:
        doc = doc.unionByName(p)
    return doc


def assemble_document(doc: DataFrame, ordered: bool) -> DataFrame:
    """Final ordering stage of the export, factored out so plan
    audits can assert the scale mode introduces NO Sort Exchange
    (sortWithinPartitions = in-partition sort only; the ordered mode
    pays a rangepartitioning Exchange for byte-stable output). Orders
    by (doc, sort) — ``doc`` when present — and drops ``sort``."""
    keys = [c for c in ("doc", "sort") if c in doc.columns]
    if ordered:
        doc = doc.orderBy(*keys)
    else:
        doc = doc.sortWithinPartitions(*keys)
    return doc.drop("sort")


def write_documents(
    docs: DataFrame, paths: Sequence[str], ordered: bool = True
) -> None:
    """Write a batch from ``ontology_documents``: document ``i`` to the
    directory ``paths[i]`` (text part files + ``_SUCCESS``).

    One write, partitioned by ``doc``, goes to a staging directory
    next to ``paths[0]`` (paths share a filesystem); once it commits,
    each ``doc=<i>`` directory replaces ``paths[i]``. A failed write
    leaves no document behind. ``df.write.text`` streams per
    partition — no driver collect — so a 100 TB export writes at
    cluster width. Blocks are ordered by code (the reference emits in
    dict-insertion order, which is DB-scan order — not reproducible;
    RDF semantics are order-free).

    ``ordered=True`` (default) totally orders each document — stable
    byte-identical output, but a full range-partitioning Exchange
    purely for cosmetics. ``ordered=False`` is the scale mode: blocks
    are sorted only WITHIN partitions (no Sort Exchange at all), each
    part file is still internally tidy and the triple SET is
    identical; use it for 100 TB exports where a global sort of the
    document text would dominate the job."""
    parent = os.path.dirname(os.path.abspath(paths[0]))
    os.makedirs(parent, exist_ok=True)
    staging = tempfile.mkdtemp(prefix="_staging-", dir=parent)
    try:
        assemble_document(docs, ordered).write.mode("overwrite").partitionBy(
            "doc"
        ).text(staging)
        for i, path in enumerate(paths):
            if os.path.isdir(path):
                shutil.rmtree(path)
            elif os.path.exists(path):
                os.remove(path)
            os.replace(os.path.join(staging, f"doc={i}"), path)
            open(os.path.join(path, "_SUCCESS"), "w").close()
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def write_ontology(
    tables: dict[str, DataFrame],
    ont_code: str,
    ns: str,
    output_dir: str,
    lat: str = "eng",
    load_on_cuis: bool = False,
    include_semantic_types: bool = True,
    umls_version: str = "2025AB",
    ordered: bool = True,
) -> None:
    """Full document export of one source: prefixes + ontology header
    + class blocks + property declarations (+ semantic types) — the
    one-entry batch of ontology_documents / write_documents."""
    rec = (
        mrsab_record(tables["MRSAB"], ont_code)
        if "MRSAB" in tables
        else None
    )
    spec = OntologySpec.from_conf(
        ont_code, ns, lat, load_on_cuis, rec, umls_version
    )
    docs = ontology_documents(
        tables, [spec], include_semantic_types=include_semantic_types
    )
    write_documents(docs, [output_dir], ordered)


def _empty_like(ref_df: DataFrame, cols: str) -> DataFrame:
    spark = ref_df.sparkSession
    return spark.createDataFrame(
        [], ", ".join(f"{c} string" for c in cols.split())
    )


def ontology_header(
    mrsab_row: dict | None,
    ont_code: str,
    ns: str,
    umls_version: str = "2025AB",
) -> str:
    """Ontology header block (ONTOLOGY_HEADER at umls2rdf.py:30,
    write_into at umls2rdf.py:750-762). MRSAB is a one-row lookup —
    driver-side string assembly, not a Spark job."""

    def esc(s: str) -> str:
        return s.replace("\\", "\\\\").replace('"', '\\"')

    def q(s: str) -> str:
        return f'"""{esc(s)}"""' if "\n" in s else f'"{esc(s)}"'

    row = mrsab_row or {}
    version = row.get("SVER") or umls_version
    label = row.get("SSN") or ont_code
    imeta = row.get("IMETA")
    source = f"UMLS {imeta}" if imeta else f"UMLS {umls_version}"
    alt = row.get("RSAB")
    comment = (
        f"RDF Version of the UMLS ontology {ont_code}; "
        "converted with the UMLS2RDF tool "
        "(https://github.com/ncbo/umls2rdf), "
        "developed by the NCBO project."
    )
    alt_line = f" ;\n    skos:altLabel {q(alt)}" if alt else ""
    return f"""
<{ns}>
    a owl:Ontology ;
    rdfs:comment {q(comment)} ;
    rdfs:label {q(label)} ;
    owl:imports <http://www.w3.org/2004/02/skos/core> ;
    owl:versionInfo {q(version)} ;
    dcterms:source {q(source)}{alt_line} .

"""


def mrsab_records(mrsab: DataFrame, codes) -> dict[str, dict]:
    """Preferred MRSAB row per RSAB in ``codes``, from one collect of
    the small table: CURVER='Y' first (get_mrsab_record at
    umls2rdf.py:115-122), deterministic fallback by VSAB (nulls
    first, as Spark orders them)."""
    rows = [
        r.asDict()
        for r in mrsab.where(F.col("RSAB").isin(sorted(set(codes)))).collect()
    ]
    rows.sort(
        key=lambda r: (
            r["CURVER"] != "Y", r["VSAB"] is not None, r["VSAB"] or ""
        )
    )
    best: dict[str, dict] = {}
    for r in rows:
        best.setdefault(r["RSAB"], r)
    return best


def mrsab_record(mrsab: DataFrame, ont_code: str) -> dict | None:
    """Preferred MRSAB row of one source (see mrsab_records)."""
    return mrsab_records(mrsab, [ont_code]).get(ont_code)
