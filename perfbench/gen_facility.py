"""Seeded synthetic facility metadata: a location tree with tags and
attributes, and order types with parent chains, as one parquet file per
table in the column layout the locations and hierarchy exporters read.

The make-up (see README.md for the proportions):

* a location tree of four levels below a handful of roots; ids are a
  random permutation, so children often precede their parents in id order;
* 0-3 tags and 0-4 attributes of distinct types per location; some
  attribute values contain ``:``; about 4 % of locations are retired;
* order types whose parents form chains up to six long, with Java class
  names and retired types.

Run: ``python3 perfbench/gen_facility.py OUT_DIR --seed N --locations N``
"""

from __future__ import annotations

import argparse
import random

import pyarrow as pa

from gen_dictionary import write_tables

TAGS = ["Login Location", "Visit Location", "Admission Location",
        "Transfer Location", "Lab Location", "Dispensing Location",
        "Appointment Location"]
ATTRS = ["Code", "URL", "Beds", "Opening hours", "Phone", "Catchment"]
PLACES = ["Mirebalais", "Hinche", "Lacolline", "Belladere", "Cange",
          "Thomonde", "Boucan Carre", "Saint-Marc", "Neno", "Lisungwi"]
UNITS = ["Ward", "Clinic", "Lab", "Pharmacy", "Outpatient", "Maternity",
         "Triage", "Records"]
ORDER_CLASSES = ["org.openmrs.TestOrder", "org.openmrs.DrugOrder",
                 "org.openmrs.ReferralOrder", "org.openmrs.Order"]

SCHEMAS = {
    "location": {"location_id": pa.int64(), "uuid": pa.string(),
                 "retired": pa.int32(), "name": pa.string(),
                 "description": pa.string(), "parent_location": pa.int64()},
    "location_tag": {"location_tag_id": pa.int64(), "name": pa.string()},
    "location_tag_map": {"location_id": pa.int64(),
                         "location_tag_id": pa.int64()},
    "location_attribute_type": {"location_attribute_type_id": pa.int64(),
                                "name": pa.string()},
    "location_attribute": {"location_id": pa.int64(),
                           "attribute_type_id": pa.int64(),
                           "value_reference": pa.string()},
    "order_type": {"order_type_id": pa.int64(), "uuid": pa.string(),
                   "retired": pa.int32(), "name": pa.string(),
                   "description": pa.string(),
                   "java_class_name": pa.string(), "parent": pa.int64()},
}


def _attr_value(rng: random.Random, attr: str, serial: int) -> str:
    if attr == "URL":
        return f"http://{rng.choice(PLACES).lower()}.example:8{serial % 1000:03d}"
    if attr == "Opening hours":
        return f"{rng.randint(6, 9):02d}:00-{rng.randint(15, 20):02d}:30"
    if attr == "Beds":
        return str(rng.randint(0, 200))
    if attr == "Phone":
        return f"+509 {rng.randint(1000, 9999)} {rng.randint(1000, 9999)}"
    if attr == "Catchment":
        return f"{rng.choice(PLACES)}; pop {rng.randint(1000, 90000)}"
    return f"LOC-{serial}"


def generate(seed: int, n_locations: int) -> dict[str, list[tuple]]:
    """Return {table: rows} for about ``n_locations`` locations."""
    rng = random.Random(seed)
    ids = list(range(1, n_locations + 1))
    rng.shuffle(ids)
    n_roots = max(1, n_locations // 2000)
    location, tag_map, attrs = [], [], []
    placed: list[list[int]] = [[] for _ in range(5)]
    for serial, lid in enumerate(ids):
        if serial < n_roots:
            level, parent = 0, None
        else:
            level = rng.choice([1, 2, 3, 3, 4, 4, 4])
            while not placed[level - 1]:
                level -= 1
            parent = rng.choice(placed[level - 1])
        placed[level].append(lid)
        name = f"{rng.choice(PLACES)} {rng.choice(UNITS)} {serial}"
        r = rng.random()
        desc = (None if r < 0.3 else f"{name}, level {level}" if r < 0.6
                else f"Serves {rng.choice(PLACES)}")
        location.append((lid, f"{seed:04x}{lid:08x}-10ca-4b1d-8f00-"
                         f"{rng.getrandbits(48):012x}",
                         int(rng.random() < 0.04), name, desc, parent))
        for t in rng.sample(range(len(TAGS)), rng.choice([0, 0, 1, 2, 3])):
            tag_map.append((lid, t + 1))
        for a in rng.sample(range(len(ATTRS)), rng.choice([0, 1, 1, 2, 4])):
            attrs.append((lid, a + 1, _attr_value(rng, ATTRS[a], serial)))
    rng.shuffle(tag_map)
    rng.shuffle(attrs)

    n_types = max(6, n_locations // 100)
    tids = list(range(1, n_types + 1))
    rng.shuffle(tids)
    order_type, depth = [], {}
    for serial, tid in enumerate(tids):
        cands = [t for t in tids[:serial] if depth[t] < 5]
        parent = rng.choice(cands) if cands and rng.random() < 0.7 else None
        depth[tid] = 0 if parent is None else depth[parent] + 1
        order_type.append((
            tid, f"{seed:04x}{tid:08x}-07de-4e00-a000-"
            f"{rng.getrandbits(48):012x}", int(rng.random() < 0.05),
            f"{rng.choice(['Lab', 'Drug', 'Radiology', 'Referral'])} "
            f"order {serial}",
            None if rng.random() < 0.4 else f"Orders of kind {serial % 17}",
            rng.choice(ORDER_CLASSES), parent))

    return {
        "location": location,
        "location_tag": [(i + 1, t) for i, t in enumerate(TAGS)],
        "location_tag_map": tag_map,
        "location_attribute_type": [(i + 1, a) for i, a in enumerate(ATTRS)],
        "location_attribute": attrs,
        "order_type": order_type,
    }


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("out_dir")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--locations", type=int, required=True)
    a = p.parse_args()
    write_tables(generate(a.seed, a.locations), a.out_dir, SCHEMAS)


if __name__ == "__main__":
    main()
