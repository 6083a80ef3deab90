"""Seeded generator for the reference pipeline's input: Planning
Center-shaped JSON:API page directories (people, lists, list_results,
emails, phones), the scraped expected counts, the ``csv_fmt`` mapping,
and the truth the pipeline's output is checked against.

Planted quirks, every one of which the truth records:
- a hub list that holds a large share of all people;
- null and leap-day (Feb 29) birthdates, and grade 0;
- people with no primary email and people with no primary phone;
- scraped counts that disagree with the real membership, and youth
  lists missing from the scrape entirely;
- youth lists that ``csv_fmt`` does not map, so no CSV is written.

The same seed always writes byte-identical pages and truth.

Usage: python perfbench/gen_pco.py OUT_DIR [--seed N] [--people 20000]
"""

from __future__ import annotations

import argparse
import json
import random
import shutil
from pathlib import Path

RESOURCES = ["people", "lists", "list_results", "emails", "phones"]
CSV_HEADER = ["name", "primary_email", "primary_phone_number", "grade", "age"]
AS_OF = "2024-06-30"
LIST_FILTER = "Youth"
FIRST = ["Ada", "Ben", "Cam", "Dee", "Eli", "Fay", "Gus", "Hal", "Ivy", "Jo"]
LAST = ["Park", "Ruiz", "Chen", "Okafor", "Berg", "Novak", "Ito", "Silva"]


def _person(rng: random.Random, pid: int) -> dict:
    r = rng.random()
    if r < 0.06:
        birthdate = None
    elif r < 0.10:
        birthdate = f"{rng.choice([2008, 2012, 2016])}-02-29"
    else:
        birthdate = f"{rng.randint(1950, 2018)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    g = rng.random()
    grade = None if g < 0.2 else (0 if g < 0.3 else rng.randint(1, 12))
    name = f"{rng.choice(FIRST)} {rng.choice(LAST)} {pid}"
    return {"name": name, "birthdate": birthdate, "grade": grade}


def _resource(rtype: str, rid: str, attributes: dict, rels: dict | None = None) -> dict:
    res = {
        "type": rtype,
        "id": rid,
        "attributes": attributes,
        "links": {"self": f"https://api.planningcenteronline.com/people/v2/{rtype.lower()}s/{rid}"},
    }
    if rels:
        res["relationships"] = {
            k: {"data": {"type": t, "id": v}} for k, (t, v) in rels.items()
        }
    return res


def make_pco(seed: int, n_people: int = 20_000, n_lists: int = 40) -> dict:
    """Build every resource list plus the expected counts, csv_fmt and
    truth, without touching disk."""
    rng = random.Random(seed)
    people = [
        _resource("Person", str(pid), _person(rng, pid)) for pid in range(n_people)
    ]
    # every seed has the same shape: 60% youth lists (the hub first), the
    # same number of each planted count problem and of unmapped lists
    youth_ids = {0} | set(rng.sample(range(1, n_lists), int(n_lists * 0.6) - 1))
    lists, youth = [], []
    for i in range(n_lists):
        lid = f"L{i}"
        name = f"Youth {'Hub' if i == 0 else 'Group'} {i}" if i in youth_ids else f"Adults {i}"
        lists.append(_resource("List", lid, {"name": name}))
        if i in youth_ids:
            youth.append(name)
    members: dict[str, list[int]] = {}
    list_results = []
    for i, lst in enumerate(lists):
        share = 0.45 if i == 0 else rng.uniform(0.002, 0.03)
        pids = sorted(rng.sample(range(n_people), max(1, int(n_people * share))))
        members[lst["attributes"]["name"]] = pids
        for pid in pids:
            list_results.append(
                _resource(
                    "ListResult", f"{lst['id']}-{pid}", {},
                    {"list": ("List", lst["id"]), "person": ("Person", str(pid))},
                )
            )
    emails, phones = [], []
    for pid in range(n_people):
        # ~10% have no primary email (only non-primary, or none at all);
        # ~15% have no primary phone
        if rng.random() >= 0.10:
            emails.append(
                _resource("Email", f"e{pid}", {"address": f"p{pid}@example.org", "primary": True},
                          {"person": ("Person", str(pid))})
            )
        if rng.random() < 0.3:
            emails.append(
                _resource("Email", f"e{pid}x", {"address": f"p{pid}@old.example.org", "primary": False},
                          {"person": ("Person", str(pid))})
            )
        if rng.random() >= 0.15:
            phones.append(
                _resource("PhoneNumber", f"t{pid}", {"national": f"(555) {pid:07d}", "primary": True},
                          {"person": ("Person", str(pid))})
            )
    actual = {name: len(members[name]) for name in youth}
    # the hub is always scraped correctly and always mapped; of the other
    # youth lists, about 1 in 7 is missing from the scrape, 1 in 5 is
    # scraped with a wrong count, and 1 in 4 has no csv_fmt entry
    others = youth[1:]
    rng.shuffle(others)
    n_missing = max(1, len(others) // 7)
    n_wrong = max(1, len(others) // 5)
    missing = others[:n_missing]
    mismatched = others[n_missing:n_missing + n_wrong]
    expected = {
        name: actual[name] + (rng.choice([-3, -1, 1, 2, 7]) if name in mismatched else 0)
        for name in youth if name not in missing
    }
    unmapped = set(rng.sample(others, max(1, len(others) // 4)))
    mapped = [n for n in youth if n not in unmapped]
    csv_fmt = {n: "youth_" + n.split()[-1] for n in mapped}
    adults = [lst["attributes"]["name"] for lst in lists
              if not lst["attributes"]["name"].startswith("Youth")]
    for name in rng.sample(adults, len(adults) // 2):
        csv_fmt[name] = "adults_" + name.split()[-1]
    truth = {
        "youth_lists": youth,
        "invalid_lists": sorted(mismatched + missing),
        "mismatched": sorted(mismatched),
        "missing": sorted(missing),
        "csv_rows": {csv_fmt[n]: actual[n] for n in mapped},
        "csv_header": CSV_HEADER,
        "people": n_people,
        "people_no_birthdate": sum(p["attributes"]["birthdate"] is None for p in people),
        "people_leap_day": sum(
            (p["attributes"]["birthdate"] or "").endswith("-02-29") for p in people
        ),
        "people_grade_0": sum(p["attributes"]["grade"] == 0 for p in people),
        "people_no_primary_email": n_people - sum(e["attributes"]["primary"] for e in emails),
        "people_no_primary_phone": n_people - len(phones),
        "hub_list": youth[0],
        "hub_share": len(members[youth[0]]) / n_people,
        "unmapped_youth": sorted(unmapped),
    }
    return {
        "resources": {
            "people": people, "lists": lists, "list_results": list_results,
            "emails": emails, "phones": phones,
        },
        "expected_counts": expected,
        "csv_fmt": csv_fmt,
        "truth": truth,
    }


def write_pco(out_dir: str | Path, seed: int, n_people: int = 20_000,
              per_page: int = 500) -> dict:
    """Write ``{out_dir}/{resource}/page-NNNN.json`` plus
    ``expected_counts.json``, ``csv_fmt.json`` and ``truth.json``;
    return the generated dict (truth included) with page counts."""
    out = Path(out_dir)
    shutil.rmtree(out, ignore_errors=True)
    gen = make_pco(seed, n_people)
    pages = {}
    for rname, rows in gen["resources"].items():
        d = out / rname
        d.mkdir(parents=True)
        n_pages = max(1, -(-len(rows) // per_page))
        for p in range(n_pages):
            chunk = rows[p * per_page:(p + 1) * per_page]
            doc = {
                "data": chunk,
                "meta": {"total_count": len(rows), "count": len(chunk)},
                "links": {"self": f"{rname}?offset={p * per_page}"},
            }
            (d / f"page-{p:04d}.json").write_text(json.dumps(doc, sort_keys=True))
        pages[rname] = n_pages
    gen["truth"]["pages"] = pages
    gen["truth"]["records"] = {k: len(v) for k, v in gen["resources"].items()}
    for name in ("expected_counts", "csv_fmt", "truth"):
        (out / f"{name}.json").write_text(json.dumps(gen[name], sort_keys=True, indent=1))
    return gen


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--people", type=int, default=20_000)
    ap.add_argument("--per-page", type=int, default=500)
    a = ap.parse_args()
    print(json.dumps(write_pco(a.out_dir, a.seed, a.people, a.per_page)["truth"], indent=1))
