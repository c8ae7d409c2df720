"""Seeded synthetic OpenMRS concept dictionary, written as one parquet file
per table in the column layout the concepts exporter reads.

The make-up (see README.md for the proportions):

* every live concept has a unique ``en`` fully specified name (FSN); ``es``
  FSNs cover about 60 % and ``fr`` FSNs about 30 %, so an export whose
  default locale is ``fr`` meets concepts without a key;
* SHORT names, voided names, ``en`` descriptions of which a fifth contain
  ``\\n`` or ``\\r\\n``, and descriptions in other locales;
* mappings to the 15 default sources (PIH split into Number and Name codes
  by the leading-digit rule), to a source and a map type outside the
  defaults, retired terms, and several codes per (type, source) cell;
* numeric concepts (one range column NULL everywhere, so it is pruned) and
  complex concepts;
* coded questions with answers, and acyclic nested sets in four levels
  whose members include retired concepts.

Concept ids are a random permutation, so referrers often precede their
referents in id order and the exporter's ordering pass has work to do.

Run: ``python3 perfbench/gen_dictionary.py OUT_DIR --seed N --concepts N``;
besides the tables it writes ``subset_root.json``, the name of the set
the subset exports start from.
"""

from __future__ import annotations

import argparse
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# base source names; "PIH" carries both the PIH|Number and PIH|Name columns
SOURCES = [
    "PIH", "CIEL", "AMPATH", "ICD-10-WHO", "ICD-10-WHO 2nd", "ICD-11-WHO",
    "Liberia MoH", "LOINC", "org.openmrs.module.emrapi", "PIH Malawi",
    "RxNORM", "SES Lab", "SNOMED CT", "SNOMED UK",
    "IMO ProblemIT",  # not a default source: its mappings never export
]
MAP_TYPES = ["SAME-AS", "NARROWER-THAN", "BROADER-THAN", "Associated finding"]
CLASSES = ["Test", "ConvSet", "Question", "Misc", "Diagnosis", "Finding",
           "LabSet", "Drug"]
DATATYPES = ["Numeric", "N/A", "Coded", "Text", "Complex", "Boolean"]
WORDS = [
    "blood", "serum", "urine", "count", "level", "history", "pain", "fever",
    "weight", "height", "pressure", "rate", "result", "status", "dose",
    "visit", "chronic", "acute", "left", "right", "upper", "lower", "total",
    "free", "ratio", "score", "index", "culture", "smear", "screening",
]
FR_WORDS = ["sang", "sérum", "urine", "niveau", "douleur", "fièvre", "poids",
            "taille", "résultat", "état", "dose", "visite", "aiguë"]
ES_WORDS = ["sangre", "suero", "orina", "nivel", "dolor", "fiebre", "peso",
            "altura", "resultado", "estado", "dosis", "visita", "niño"]
UNITS = ["kg", "cm", "mmHg", "g/dL", "/min", "mmol/L", "%", "IU/L"]

SCHEMAS = {
    "concept": {"concept_id": pa.int64(), "uuid": pa.string(),
                "class_id": pa.int64(), "datatype_id": pa.int64(),
                "retired": pa.int32(), "is_set": pa.int32()},
    "concept_class": {"concept_class_id": pa.int64(), "name": pa.string()},
    "concept_datatype": {"concept_datatype_id": pa.int64(),
                         "name": pa.string()},
    "concept_name": {"concept_id": pa.int64(), "name": pa.string(),
                     "locale": pa.string(), "concept_name_type": pa.string(),
                     "voided": pa.int32()},
    "concept_description": {"concept_id": pa.int64(),
                            "description": pa.string(),
                            "locale": pa.string()},
    "concept_reference_map": {"concept_id": pa.int64(),
                              "concept_map_type_id": pa.int64(),
                              "concept_reference_term_id": pa.int64()},
    "concept_map_type": {"concept_map_type_id": pa.int64(),
                         "name": pa.string()},
    "concept_reference_term": {"concept_reference_term_id": pa.int64(),
                               "code": pa.string(),
                               "concept_source_id": pa.int64(),
                               "retired": pa.int32()},
    "concept_reference_source": {"concept_source_id": pa.int64(),
                                 "name": pa.string()},
    "concept_numeric": {"concept_id": pa.int64(), "hi_absolute": pa.float64(),
                        "hi_critical": pa.float64(),
                        "hi_normal": pa.float64(),
                        "low_absolute": pa.float64(),
                        "low_critical": pa.float64(),
                        "low_normal": pa.float64(), "units": pa.string(),
                        "display_precision": pa.int32(),
                        "allow_decimal": pa.int32()},
    "concept_complex": {"concept_id": pa.int64(), "handler": pa.string()},
    "concept_set": {"concept_set": pa.int64(), "concept_id": pa.int64(),
                    "sort_weight": pa.float64()},
    "concept_answer": {"concept_id": pa.int64(),
                       "answer_concept": pa.int64(),
                       "sort_weight": pa.float64()},
}


def _code(rng: random.Random, source: str) -> str:
    if source == "PIH":
        # leading digit -> PIH|Number, none -> PIH|Name
        if rng.random() < 0.6:
            return str(rng.randint(1, 99999))
        return rng.choice(WORDS).upper() + "_" + str(rng.randint(1, 9999))
    if source.startswith("ICD"):
        return f"{chr(65 + rng.randrange(26))}{rng.randint(0, 99):02d}." \
               f"{rng.randint(0, 9)}"
    if source == "LOINC":
        return f"{rng.randint(1000, 99999)}-{rng.randint(0, 9)}"
    return str(rng.randint(1, 200000))


def generate(seed: int, n_concepts: int) -> dict[str, list[tuple]]:
    """Return {table: rows} for a dictionary of about ``n_concepts``."""
    rng = random.Random(seed)
    n = n_concepts
    n_sets = max(8, n // 12)
    n_answers = max(6, n // 10)
    n_questions = max(4, n // 10)
    n_leaves = max(10, n - n_sets - n_answers - n_questions)
    kinds = (["set"] * n_sets + ["answer"] * n_answers
             + ["question"] * n_questions + ["leaf"] * n_leaves)
    ids = list(range(1, len(kinds) + 1))
    rng.shuffle(ids)
    cls_id = {c: 10 + i for i, c in enumerate(CLASSES)}
    dt_id = {d: 20 + i for i, d in enumerate(DATATYPES)}

    concept, names, descs = [], [], []
    numeric, complex_, by_kind = [], [], {k: [] for k in set(kinds)}
    for serial, (cid, kind) in enumerate(zip(ids, kinds)):
        is_ret = rng.random() < 0.03
        if kind == "set":
            cls, dt = rng.choice(["ConvSet", "LabSet"]), "N/A"
        elif kind == "answer":
            cls, dt = "Misc", rng.choice(["N/A", "N/A", "Boolean"])
        elif kind == "question":
            cls, dt = "Question", "Coded"
        else:
            r = rng.random()
            cls, dt = (("Test", "Numeric") if r < 0.35 else
                       ("Misc", "Complex") if r < 0.40 else
                       (rng.choice(["Diagnosis", "Finding", "Drug"]), "Text"))
        concept.append((cid, f"{seed:04x}{cid:08x}-c0de-4bad-9e11-"
                        f"{rng.getrandbits(48):012x}", cls_id[cls],
                        dt_id[dt], int(is_ret), int(kind == "set")))
        by_kind[kind].append(cid)
        w = rng.sample(WORDS, 2)
        en = f"{w[0].capitalize()} {w[1]} {serial}"
        if rng.random() < 0.1:
            en = f"{w[0].capitalize()}, {w[1]} {serial}"  # CSV quoting
        names.append((cid, en, "en", "FULLY_SPECIFIED", 0))
        if rng.random() < 0.6:
            names.append((cid, f"{rng.choice(ES_WORDS).capitalize()} "
                          f"{serial}", "es", "FULLY_SPECIFIED", 0))
        if rng.random() < 0.3:
            names.append((cid, f"{rng.choice(FR_WORDS).capitalize()} "
                          f"{serial}", "fr", "FULLY_SPECIFIED", 0))
        if rng.random() < 0.4:
            names.append((cid, f"{w[0][:3].upper()}{serial}", "en", "SHORT",
                          0))
        if rng.random() < 0.15:
            names.append((cid, f"{rng.choice(ES_WORDS)[:3]}{serial}", "es",
                          "SHORT", 0))
        if rng.random() < 0.1:
            names.append((cid, f"{rng.choice(FR_WORDS)[:3]}{serial}", "fr",
                          "SHORT", 0))
        if rng.random() < 0.05:
            names.append((cid, f"Old {en}", "en", "FULLY_SPECIFIED", 1))
            names.append((cid, f"Ancien {serial}", "fr", "FULLY_SPECIFIED",
                          1))
        if rng.random() < 0.5:
            sep = rng.choice([" ", " ", " ", " ", "\n", "\r\n"])
            descs.append((cid, f"{en} described{sep}in detail", "en"))
        if rng.random() < 0.1:
            descs.append((cid, f"Description de {serial}", "fr"))
        if dt == "Numeric":
            hi = round(rng.uniform(50, 500), 1)
            numeric.append((
                cid, hi, round(hi * 0.9, 1) if rng.random() < 0.5 else None,
                round(hi * 0.8, 1), 0.0 if rng.random() < 0.3 else 1.5,
                None,  # low_critical: NULL everywhere -> pruned column
                round(rng.uniform(1, 10), 2) if rng.random() < 0.5 else None,
                rng.choice(UNITS), rng.randint(0, 3), rng.randint(0, 1)))
        elif dt == "Complex":
            complex_.append((cid, rng.choice(
                ["ImageHandler", "BinaryDataHandler", "TextHandler"])))

    # mappings: one term per mapping row, so retirement is per mapping
    crm, terms = [], []
    for cid, *_ in concept:
        maps = []
        if rng.random() < 0.7:
            maps.append(("CIEL", "SAME-AS"))
            if rng.random() < 0.07:
                maps.append(("CIEL", "SAME-AS"))  # two codes in one cell
        if rng.random() < 0.45:
            maps.append(("PIH", "SAME-AS"))
        for _ in range(rng.choice([0, 0, 1, 1, 2, 3])):
            maps.append((rng.choice(SOURCES[1:]), rng.choice(MAP_TYPES)))
        for src, mt in maps:
            tid = len(terms) + 1000
            terms.append((tid, _code(rng, src), 300 + SOURCES.index(src),
                          int(rng.random() < 0.05)))
            crm.append((cid, 1 + MAP_TYPES.index(mt), tid))

    # coded answers: distinct answers per question, distinct weights
    answers = []
    for q in by_kind["question"]:
        k = rng.randint(2, 6)
        for w, a in enumerate(rng.sample(by_kind["answer"], k)):
            answers.append((q, a, float(w + 1)))
    rng.shuffle(answers)

    # nested sets in four levels; members only come from lower levels, so
    # the set graph is acyclic; retired concepts are members too
    sets = by_kind["set"][:]
    levels = [sets[: len(sets) // 2], sets[len(sets) // 2: len(sets) * 3 // 4],
              sets[len(sets) * 3 // 4: len(sets) - max(2, len(sets) // 40)],
              sets[len(sets) - max(2, len(sets) // 40):]]
    pool0 = by_kind["leaf"] + by_kind["question"]
    members = []
    for level, group in enumerate(levels):
        for s in group:
            if level == 0:
                kids = rng.sample(pool0, rng.randint(3, 12))
            else:
                lower = levels[level - 1]
                want = {1: (2, 6), 2: (2, 6), 3: (len(lower) // 3,
                                                  len(lower) // 2 + 1)}[level]
                kids = rng.sample(lower, min(len(lower), rng.randint(*want)))
                kids += rng.sample(pool0, rng.randint(0, 3))
            weights = rng.sample(range(1, 10 * len(kids) + 1), len(kids))
            members += [(s, c, float(w)) for c, w in zip(kids, weights)]
    rng.shuffle(members)

    return {
        "concept": concept,
        "concept_class": [(v, k) for k, v in cls_id.items()],
        "concept_datatype": [(v, k) for k, v in dt_id.items()],
        "concept_name": names,
        "concept_description": descs,
        "concept_reference_map": crm,
        "concept_map_type": [(i + 1, m) for i, m in enumerate(MAP_TYPES)],
        "concept_reference_term": terms,
        "concept_reference_source": [(300 + i, s)
                                     for i, s in enumerate(SOURCES)],
        "concept_numeric": numeric,
        "concept_complex": complex_,
        "concept_set": members,
        "concept_answer": answers,
    }


def subset_root(seed: int, tables: dict[str, list[tuple]]) -> str:
    """en FSN of a live set whose tree holds tens of concepts, the root of
    the subset exports: the exporter collects every concept to keep these."""
    live = {c[0] for c in tables["concept"] if not c[4]}
    kids: dict[int, list[int]] = {}
    for parent, child, _ in tables["concept_set"] + tables["concept_answer"]:
        if child in live:
            kids.setdefault(parent, []).append(child)
    fsn = {r[0]: r[1] for r in tables["concept_name"]
           if r[2] == "en" and r[3] == "FULLY_SPECIFIED" and not r[4]}

    def tree_size(root: int) -> int:
        seen, todo = {root}, [root]
        while todo:
            for k in kids.get(todo.pop(), ()):
                if k not in seen:
                    seen.add(k)
                    todo.append(k)
        return len(seen)

    small = sorted(c[0] for c in tables["concept"]
                   if c[5] and c[0] in live and 10 <= tree_size(c[0]) < 100)
    return fsn[random.Random(seed).choice(small)]


def write_tables(tables: dict[str, list[tuple]], out_dir: str,
                 schemas: dict[str, dict]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, rows in tables.items():
        schema = schemas[name]
        cols = list(schema)
        table = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)},
                         schema=pa.schema(schema))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("out_dir")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--concepts", type=int, required=True)
    a = p.parse_args()
    tables = generate(a.seed, a.concepts)
    write_tables(tables, a.out_dir, SCHEMAS)
    with open(os.path.join(a.out_dir, "subset_root.json"), "w") as f:
        json.dump(subset_root(a.seed, tables), f)


if __name__ == "__main__":
    main()
