#!/usr/bin/env python3
"""Seeded generator for one synthetic SEC EDGAR quarter.

Writes the four Financial Statement Data Set files (`sub.txt`, `tag.txt`,
`num.txt`, `pre.txt`, tab-separated with a header line) and `expected.json`:
the values a correct load of exactly these files must produce.

Shape, all derived from the seed:

* `filings` filings by about 3/4 as many companies (every company files at
  least once), spread uniformly over the first `filing_days` business days of
  the quarter.
* Each filing reports `tags_per_filing` distinct tags drawn from a bounded
  vocabulary of `vocab` tags with Zipf(`zipf_s`) weights, so the many-to-many
  `dim_filings` join of the fact models fans out by tens, not thousands.
  Every (filing, tag) has one `num` row and one `pre` row; a tag's statement
  (BS, IS, CF or EQ) and unit are fixed by the tag.
* Malformed rows (unparsable number, date or flag fields) are appended to
  every file; a `COPY INTO`-style load drops exactly these.
* Known data-quality violations are planted for seven checks of the reference
  test suite; every other check holds by construction.

`expected.json` also carries the fact tables' row counts and `FCT_VALUE`
sums, computed here by an independent re-statement of the fact models'
semantics, and the document model's filing and element counts.

Usage: gen_edgar.py OUT_DIR --seed N [--filings F] [--tags-per-filing T]
       [--vocab V] [--zipf-s S] [--filing-days D]
"""
import argparse
import datetime as dt
import json
import os
import random
from bisect import bisect
from collections import defaultdict
from decimal import Decimal
from itertools import accumulate

VERSION = "us-gaap/2024"
STMTS = ("BS", "IS", "CF", "EQ")
FACT_STMTS = {"BS": "fct_balanceSheet", "IS": "fct_IncomeStatement",
              "CF": "fct_Cashflows"}
STATES = ("CA", "NY", "TX", "WA", "MA", "IL", "NJ", "GA")

SUB_COLS = ("adsh cik name sic countryba stprba cityba zipba bas1 bas2 baph "
            "countryma stprma cityma zipma mas1 mas2 countryinc stprinc ein "
            "former changed afs wksi fye form period fy fp filed accepted "
            "prevrpt detail instance nciks aciks").split()
TAG_COLS = "tag version custom abstract datatype iord crdr tlabel doc".split()
NUM_COLS = "adsh tag version ddate qtrs uom segments coreg value footnote".split()
PRE_COLS = "adsh report line stmt inpth rfile tag version plabel negating".split()


def business_days(year, quarter, n):
    day = dt.date(year, 3 * quarter - 2, 1)
    out = []
    while len(out) < n:
        if day.weekday() < 5:
            out.append(day)
        day += dt.timedelta(days=1)
    return out


def generate(seed, filings=200, tags_per_filing=25, vocab=160, zipf_s=1.1,
             filing_days=60):
    """Return (tables, expected): tables maps file name to rows (lists of
    strings in column order); expected is the JSON-ready record."""
    rng = random.Random(seed)
    days = business_days(2024, 2, filing_days)
    period = "20240331"

    # vocabulary: statement and unit are properties of the tag
    tags = [f"Tag{j:04d}" for j in range(vocab)]
    stmt_of = {t: STMTS[j % len(STMTS)] for j, t in enumerate(tags)}
    uom_of = {t: ("shares" if j % 11 == 5 else "USD") for j, t in enumerate(tags)}
    doc_of = {t: f"Synthetic element {j} of the quarter's taxonomy."
              for j, t in enumerate(tags)}
    cum = list(accumulate(1.0 / (j + 1) ** zipf_s for j in range(vocab)))

    def draw_tags():
        picked = []
        seen = set()
        while len(picked) < tags_per_filing:
            t = tags[bisect(cum, rng.random() * cum[-1])]
            if t not in seen:
                seen.add(t)
                picked.append(t)
        return picked

    n_comp = max(1, filings * 3 // 4)
    companies = []
    for i in range(n_comp):
        companies.append({
            "cik": 100003 + 7 * i,
            "name": f"SYNTH HOLDINGS {i:05d} INC",
            "ticker": f"syn{i:05d}",
            "state": STATES[i % len(STATES)],
            "street": f"{100 + i} MARKET ST",
            "zip": f"{10000 + i}",
            "sic": 1000 + (i % 90) * 10,
        })

    # planted quality violations: a known count per check
    k = {name: 1 + rng.randrange(4) for name in (
        "sub.fy.between_1900_2100", "sub.aciks.regex",
        "sub.period.not_null_except_fy0", "tag.crdr.accepted",
        "num.value.between_0_1e9", "num.adsh.fk_sub", "pre.plabel.length")}

    sub, num, pre, tag_rows = [], [], [], []
    subs = {}  # adsh -> (cik, filed date)
    filing_idx = list(range(filings))
    fy_bad = set(rng.sample(filing_idx, k["sub.fy.between_1900_2100"]))
    rest = [f for f in filing_idx if f not in fy_bad]
    aciks_bad = set(rng.sample(rest, k["sub.aciks.regex"]))
    period_null = set(rng.sample(rest, k["sub.period.not_null_except_fy0"]))
    for f in filing_idx:
        c = companies[f] if f < n_comp else companies[rng.randrange(n_comp)]
        adsh = f"{c['cik']:010d}-24-{f:06d}"
        filed = rng.choice(days)
        subs[adsh] = (c["cik"], filed)
        sub.append({
            "adsh": adsh, "cik": str(c["cik"]), "name": c["name"],
            "sic": str(c["sic"]), "countryba": "US", "stprba": c["state"],
            "cityba": "SPRINGFIELD", "zipba": c["zip"], "bas1": c["street"],
            "bas2": "", "baph": "555-0100", "countryma": "US",
            "stprma": c["state"], "cityma": "SPRINGFIELD", "zipma": c["zip"],
            "mas1": c["street"], "mas2": "", "countryinc": "US",
            "stprinc": "DE", "ein": str(900000000 + f), "former": "",
            "changed": "", "afs": "1-LAF", "wksi": str(f % 2), "fye": "1231",
            "form": "10-Q",
            "period": "" if f in period_null else period,
            "fy": "2150" if f in fy_bad else "2024", "fp": "Q1",
            "filed": filed.strftime("%Y%m%d"),
            "accepted": filed.strftime("%Y-%m-%d") + " 16:05:00",
            "prevrpt": "0", "detail": "1",
            "instance": f"{c['ticker']}-{period}.htm", "nciks": "1",
            "aciks": "12;34" if f in aciks_bad else "",
        })
        for line, t in enumerate(draw_tags(), start=1):
            value = Decimal(rng.randrange(0, 10 ** 11)) / 100
            num.append({"adsh": adsh, "tag": t, "version": VERSION,
                        "ddate": period, "qtrs": "1" if stmt_of[t] != "BS" else "0",
                        "uom": uom_of[t], "segments": "", "coreg": "",
                        "value": value, "footnote": ""})
            pre.append({"adsh": adsh, "report": str(2 + STMTS.index(stmt_of[t])),
                        "line": str(line), "stmt": stmt_of[t], "inpth": "0",
                        "rfile": "H", "tag": t, "version": VERSION,
                        "plabel": f"Reported {t}", "negating": "0"})

    for i in rng.sample(range(len(num)), k["num.value.between_0_1e9"]):
        num[i]["value"] = Decimal(1000000000 + rng.randrange(1, 10 ** 6)) + Decimal("0.25")
    for i in rng.sample(range(len(pre)), k["pre.plabel.length"]):
        pre[i]["plabel"] = "L" * 600
    for i in range(k["num.adsh.fk_sub"]):
        t = tags[i % vocab]
        num.append({"adsh": f"9999999999-24-{i:06d}", "tag": t,
                    "version": VERSION, "ddate": period, "qtrs": "0",
                    "uom": uom_of[t], "segments": "", "coreg": "",
                    "value": Decimal(rng.randrange(0, 10 ** 8)) / 100,
                    "footnote": ""})
    crdr_bad = set(rng.sample(range(vocab), k["tag.crdr.accepted"]))
    for j, t in enumerate(tags):
        tag_rows.append({"tag": t, "version": VERSION, "custom": "0",
                         "abstract": "0", "datatype": "decimal",
                         "iord": "I" if stmt_of[t] == "BS" else "D",
                         "crdr": "X" if j in crdr_bad else ("D" if j % 2 else "C"),
                         "tlabel": f"Tag {j}", "doc": doc_of[t]})

    expected = {
        "params": {"seed": seed, "filings": filings,
                   "tags_per_filing": tags_per_filing, "vocab": vocab,
                   "zipf_s": zipf_s, "filing_days": filing_days,
                   "companies": n_comp},
        "violations": k,
        "rows_landed": {"sub": len(sub), "tag": len(tag_rows),
                        "num": len(num), "pre": len(pre)},
    }
    expected.update(reference_models(sub, tag_rows, num, pre, subs))

    # malformed rows, appended after the good ones: each has one field its
    # declared type cannot parse, so the whole row is dropped at load
    malformed = {n: 1 + rng.randrange(5) for n in ("sub", "tag", "num", "pre")}
    bad_sub = [dict(sub[0], adsh=f"8888888888-24-{i:06d}", cik=f"C{i}X")
               for i in range(malformed["sub"])]
    bad_tag = [dict(tag_rows[0], tag=f"BadTag{i}", custom="yes")
               for i in range(malformed["tag"])]
    bad_num = [dict(num[0], value="12.3.4", ddate="2024-13-45")
               for _ in range(malformed["num"])]
    bad_pre = [dict(pre[0], line=f"x{i}") for i in range(malformed["pre"])]
    tables = {
        "sub": (SUB_COLS, sub + bad_sub),
        "tag": (TAG_COLS, tag_rows + bad_tag),
        "num": (NUM_COLS, num + bad_num),
        "pre": (PRE_COLS, pre + bad_pre),
    }
    expected["malformed"] = malformed
    expected["rows_read"] = {n: len(rows) for n, (_, rows) in tables.items()}
    return tables, expected


def reference_models(sub, tag_rows, num, pre, subs):
    """Fact-table and document counts a correct model build must yield.

    Restates the fact dataflow (num ⋈ pre on ADSH+TAG with the statement
    filter, ⋈ sub, ⋈ dim_filings on statement and filing date, grouped by
    company, date, tag, unit and version): each (company, filing date) that
    has rows of a statement yields one row per `dim_filings` entry of that
    statement and date, each carrying the company's value total for that day.
    """
    name_of_cik = {int(s["cik"]): s["name"] for s in sub}
    doc_of = {(t["tag"], t["version"]): t["doc"] or "Unknown" for t in tag_rows}
    uoms = defaultdict(set)
    for n in num:
        uoms[(n["tag"], n["version"])].add(n["uom"])
    # dim_filings: distinct (tag, version, doc, stmt, filed, uom)
    dim_filings = set()
    for p in pre:
        key = (p["tag"], p["version"])
        if p["adsh"] in subs and key in doc_of:
            filed = subs[p["adsh"]][1]
            for u in uoms.get(key, ()):
                dim_filings.add((p["tag"], p["version"], doc_of[key],
                                 p["stmt"], filed, u))
    per_day = defaultdict(int)
    for (_, _, _, stmt, filed, _) in dim_filings:
        per_day[(stmt, filed)] += 1

    stmt_of_pre = defaultdict(list)
    for p in pre:
        stmt_of_pre[(p["adsh"], p["tag"])].append(p["stmt"])
    totals = defaultdict(Decimal)  # (stmt, company, filed) -> value sum
    elements = defaultdict(int)
    for n in num:
        if n["adsh"] not in subs:
            continue
        cik, filed = subs[n["adsh"]]
        stmts = stmt_of_pre.get((n["adsh"], n["tag"]), [])
        elements[n["adsh"]] += max(1, len(stmts))
        for s in stmts:
            if s in FACT_STMTS:
                totals[(s, name_of_cik[cik], filed)] += n["value"]
    facts = {name: {"rows": 0, "fct_value_sum": Decimal(0)}
             for name in FACT_STMTS.values()}
    for (s, _, filed), total in totals.items():
        fan = per_day[(s, filed)]
        f = facts[FACT_STMTS[s]]
        f["rows"] += fan
        f["fct_value_sum"] += fan * total.quantize(Decimal("0.01"))
    for f in facts.values():
        f["fct_value_sum"] = str(f["fct_value_sum"].quantize(Decimal("0.01")))
    n_elements = sum(elements.get(s["adsh"], 1) for s in sub)
    return {
        "facts": facts,
        "json_docs": len(sub),
        "json_elements": n_elements,
    }


def write(out_dir, tables, expected):
    os.makedirs(out_dir, exist_ok=True)
    for name, (cols, rows) in tables.items():
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write("\t".join(cols) + "\n")
            for r in rows:
                fh.write("\t".join(str(r[c]) for c in cols) + "\n")
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--filings", type=int, default=200)
    ap.add_argument("--tags-per-filing", type=int, default=25)
    ap.add_argument("--vocab", type=int, default=160)
    ap.add_argument("--zipf-s", type=float, default=1.1)
    ap.add_argument("--filing-days", type=int, default=60)
    a = ap.parse_args()
    tables, expected = generate(a.seed, a.filings, a.tags_per_filing, a.vocab,
                                a.zipf_s, a.filing_days)
    write(a.out_dir, tables, expected)


if __name__ == "__main__":
    main()
