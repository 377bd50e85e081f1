"""Seeded input generators for the engine benchmark.

Every generator is a pure function of ``(seed, size)``: the same pair
writes byte-identical files. Outputs are cached under
``<root>/<kind>-<n>-s<seed>/`` (``n``: the size's row count) and
marked complete by a ``_DONE`` file, so a second run with
the same pair reuses them.

Kinds:

- ``fec``: FEC-shaped landed pipe-delimited files (``indiv``, ``oth``,
  ``cn``, ``cm``, ``ccl``, ``pas``, ``oppexp``,
  ``independent_expenditure``) with Zipf-skewed donors and committees,
  amendment rows, exact duplicates across ``indiv``/``oth``, memo rows
  and messy names, dates and zips, plus ``memo_docs.parquet``: filing
  memo text with a fixed near-duplicate share. ``expected.json`` holds
  the row counts the FEC layer must produce, derived here from the
  generated rows.
- ``versioned``: a keyed base table plus one delta file per batch
  (updates of existing keys, new keys and deletes; Zipf-skewed towards
  recently written keys).

Usage: ``python3 perfbench/gen.py --kind fec --seed 1 --size bench --out DIR``
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per kind and size; "tiny" is the smoke-test size
SIZES = {
    "fec": {"tiny": 2_000, "bench": 10_000},
    "versioned": {"tiny": 4_000, "bench": 10_000},
}

# fixed batch count of the versioned delta stream: four maintenance
# cycles of 2 batches (wl_incremental_load.MAX_DELETE_ENTRIES + 1); a
# run of the declared length uses one cycle
VERSIONED_BATCHES = 8
VERSIONED_DELTA_SHARE = 0.01


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _zipf_index(rng: np.random.Generator, n_items: int, size: int, a: float = 1.3) -> np.ndarray:
    """Indices into ``n_items`` drawn with Zipf skew (index 0 hottest)."""
    return (rng.zipf(a, size) - 1) % n_items


# ---------------------------------------------------------------------------
# FEC landed files
# ---------------------------------------------------------------------------

_TXN_COLS = [
    "cmte_id", "amndt_ind", "rpt_tp", "transaction_pgi", "image_num",
    "transaction_tp", "entity_tp", "name", "city", "state", "zip_code",
    "employer", "occupation", "transaction_dt", "transaction_amt", "other_id",
    "tran_id", "file_num", "memo_cd", "memo_text", "sub_id",
]
_TP_POOL = np.array(["15", "15E", "22Y", "24I", "24T", "24K", "20", "20Y", "41", "10", "15C", "24E"])
_STATES = np.array(["CA", "TX", "NY", "VA", "GA", "FL", "WA", "IL", "OH", "PA"])
_FIRST = np.array(["JOHN", "JANE", "PAT", "ANN", "SAMUEL", "MARIA", "LEE", "KIM", "ALEX", "SAM"])
_LAST = np.array(["SMITH", "DOE", "O'BRIEN", "LEE", "GARCIA", "NGUYEN", "KING", "ADAMS", "WU", "PATEL"])
_SUFFIX = np.array(["", "", "", " MR", " MRS", " JR", " PHD", " III", " DR", " MD"])
_WORDS = np.array(
    "filing memo refund earmark reattribution partnership attribution conduit "
    "payroll deduction transfer joint fundraising committee contribution "
    "candidate expense reimbursement loan repayment in-kind donation event "
    "catering travel lodging advertising consulting".split()
)


def _fmt(v) -> str:
    return "" if v is None else str(v)


def _write_pipe(path: str, columns: list[str], data: dict) -> int:
    """Pipe-delimited, unquoted, headerless; ``None`` writes as empty."""
    cols = [data[c] for c in columns]
    n = len(cols[0])
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for i in range(n):
            f.write("|".join(_fmt(c[i]) for c in cols))
            f.write("\n")
    return n


def _messy_names(rng: np.random.Generator, n: int, donor_idx: np.ndarray) -> list:
    first = _FIRST[donor_idx % len(_FIRST)]
    last = _LAST[(donor_idx // len(_FIRST)) % len(_LAST)]
    suffix = _SUFFIX[(donor_idx // 7) % len(_SUFFIX)]
    style = rng.integers(0, 10, n)
    out = []
    for i in range(n):
        s = style[i]
        if s == 0:
            out.append(None)
        elif s == 1:
            out.append(f"{first[i]} {last[i]}{suffix[i]}")  # "FIRST LAST" order
        elif s == 2:
            out.append(f"{last[i]},  {first[i].lower()}{suffix[i]}")  # extra space, lower
        elif s == 3:
            out.append(f"{last[i]}, {first[i]} Q{suffix[i]}")
        else:
            out.append(f"{last[i]}, {first[i]}{suffix[i]}")
    return out


def _messy_zips(rng: np.random.Generator, n: int) -> list:
    z = rng.integers(10000, 99999, n)
    plus4 = rng.integers(1000, 9999, n)
    style = rng.integers(0, 12, n)
    out = []
    for i in range(n):
        s = style[i]
        out.append(
            f"{z[i]}{plus4[i]}" if s < 4
            else None if s == 4
            else "00000" if s == 5
            else str(z[i])[:3] if s == 6
            else str(z[i])
        )
    return out


def _messy_dates(rng: np.random.Generator, n: int) -> list:
    month = rng.integers(1, 13, n)
    day = rng.integers(1, 29, n)
    year = rng.integers(2019, 2023, n)
    style = rng.integers(0, 20, n)
    out = []
    for i in range(n):
        s = style[i]
        if s == 0:
            out.append(None)
        elif s == 1:
            out.append(f"{month[i]:02d}{day[i]:02d}{year[i]}"[:7])  # truncated MMDDYYY
        else:
            out.append(f"{month[i]:02d}{day[i]:02d}{year[i]}")
    return out


def _transactions(rng, n, start_sub_id, cmte_ids, cand_ids, kind, file_base):
    entity_pool = (
        np.array(["IND"] * 6 + ["ORG"] * 2 + ["CAN", "CCM", "COM", "PAC", "PTY"])
        if kind == "oth"
        else np.array(["IND"] * 8 + ["ORG", "CAN"])
    )
    n_donors = max(50, n // 8)
    donor = _zipf_index(rng, n_donors, n)
    cmte = _zipf_index(rng, len(cmte_ids), n, a=1.2)
    ent = entity_pool[rng.integers(0, len(entity_pool), n)]
    other_kind = rng.integers(0, 10, n)
    other = [
        None if k < 3 else (cmte_ids[rng_i % len(cmte_ids)] if k < 7 else cand_ids[rng_i % len(cand_ids)])
        for k, rng_i in zip(other_kind, rng.integers(0, 1 << 30, n))
    ]
    cm_null = rng.random(n) < 0.02
    memo = rng.random(n) < 0.1
    data = {
        "cmte_id": [None if cm_null[i] else cmte_ids[cmte[i]] for i in range(n)],
        "amndt_ind": ["N"] * n,
        "rpt_tp": list(np.array(["Q1", "Q2", "Q3", "YE", "M7"])[rng.integers(0, 5, n)]),
        "transaction_pgi": list(np.array(["P", "G", "P2022", "G2022"])[rng.integers(0, 4, n)]),
        "image_num": [f"2022{v:010d}" for v in rng.integers(0, 10**9, n)],
        "transaction_tp": list(_TP_POOL[rng.integers(0, len(_TP_POOL), n)]),
        "entity_tp": list(ent),
        "name": _messy_names(rng, n, donor),
        "city": list(np.array(["SPRINGFIELD", "Oakland", "NEW YORK", "austin", ""])[rng.integers(0, 5, n)]),
        "state": list(_STATES[donor % len(_STATES)]),
        "zip_code": _messy_zips(rng, n),
        "employer": [None] * n,
        "occupation": [None] * n,
        "transaction_dt": _messy_dates(rng, n),
        "transaction_amt": list(np.round(rng.lognormal(4.5, 1.3, n), 2)),
        "other_id": other,
        "tran_id": [f"T{kind[0].upper()}{start_sub_id + i}" for i in range(n)],
        "file_num": list(file_base + rng.integers(0, 5000, n)),
        "memo_cd": ["X" if memo[i] else None for i in range(n)],
        "memo_text": [None] * n,
        "sub_id": list(range(start_sub_id, start_sub_id + n)),
    }
    for i in range(n):
        if ent[i] == "IND":
            data["employer"][i] = ["SELF-EMPLOYED", "RETIRED", "ACME INC", "N/A"][donor[i] % 4]
            data["occupation"][i] = ["ATTORNEY", "RETIRED", "ENGINEER", "TEACHER"][donor[i] % 4]
    # amendments: every 25th row re-files an earlier row's transaction
    # (same tran_id, new sub_id, amndt_ind 'A') -- a distinct master row
    for i in range(25, n, 25):
        src = i - 10
        data["tran_id"][i] = data["tran_id"][src]
        data["amndt_ind"][i] = "A"
    return data


def _memo_docs(rng: np.random.Generator, n: int, dup_share: float = 0.2) -> pa.Table:
    """Filing-memo text; ``dup_share`` of the docs are one-word edits of
    an earlier doc (near duplicates a MinHash gate should catch)."""
    lengths = rng.integers(18, 40, n)
    texts: list[str] = []
    is_dup = rng.random(n) < dup_share
    for i in range(n):
        if is_dup[i] and i > 0:
            base = texts[int(rng.integers(0, i))].split(" ")
            j = int(rng.integers(0, len(base)))
            base[j] = str(_WORDS[int(rng.integers(0, len(_WORDS)))])
            texts.append(" ".join(base))
        else:
            words = _WORDS[rng.integers(0, len(_WORDS), lengths[i])]
            texts.append(" ".join(words) + f" ref {int(rng.integers(0, 10**6))}")
    return pa.table({"doc_id": pa.array(np.arange(n, dtype=np.int64)), "text": texts})


def _is_disb(tp: str) -> bool:
    return tp[:1] in ("2", "4") and tp not in ("24I", "24T")


def _elastic_rows(m: dict) -> bool:
    """Mirror of fec.views.contributions_elastic arm predicates for one
    master row (null-safe the way SQL filters are: NULL is not true)."""
    ent, other, cmte, name, tp = m["entity_tp"], m["other_id"], m["cmte_id"], m["name"], m["transaction_tp"]
    if cmte is None:
        return False
    disb = _is_disb(tp)
    other_c = other is not None and other.startswith("C")
    if ent == "CAN":
        if other is not None and not other_c and not disb:
            return True
        return other_c and disb
    if ent == "IND":
        return not disb and name is not None
    if ent == "ORG":
        if other is None:
            return not disb and name is not None
        return other_c
    if ent in ("CCM", "COM", "PAC", "PTY"):
        return other is not None
    return False


def gen_fec(out_dir: str, seed: int, n: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    n_cm = max(40, n // 250)
    n_cn = max(20, n // 500)
    cmte_ids = [f"C{i:08d}" for i in range(n_cm)]
    offices = np.array(["H", "S", "P"])
    cand_ids = [f"{offices[i % 3]}{i:07d}" for i in range(n_cn)]

    cn = {
        "cand_id": cand_ids,
        "cand_name": [f"{_LAST[i % 10]}, {_FIRST[(i // 10) % 10]}{_SUFFIX[i % 10]}" for i in range(n_cn)],
        "cand_pty_affiliation": [[None, "DEM", "REP", "IND"][i % 4] for i in range(n_cn)],
        "cand_election_yr": [2022 + 2 * (i % 2) for i in range(n_cn)],
        "cand_office_st": [str(_STATES[i % 10]) for i in range(n_cn)],
        "cand_office": [cid[0] for cid in cand_ids],
        "cand_office_district": [f"{i % 30:02d}" for i in range(n_cn)],
        "cand_ici": [["I", "C", "O"][i % 3] for i in range(n_cn)],
        "cand_status": ["C"] * n_cn,
        "cand_pcc": [cmte_ids[i % n_cm] for i in range(n_cn)],
        "cand_st1": [None] * n_cn,
        "cand_st2": [None] * n_cn,
        "cand_city": [None] * n_cn,
        "cand_st": [None] * n_cn,
        "cand_zip": [f"{10000 + 37 * i}" for i in range(n_cn)],
    }
    cm = {
        "cmte_id": cmte_ids,
        "cmte_nm": [f"COMMITTEE TO ELECT {_LAST[i % 10]} {i}" for i in range(n_cm)],
        "tres_nm": [f"TREASURER {i}" for i in range(n_cm)],
        "cmte_st1": [None] * n_cm,
        "cmte_st2": [None] * n_cm,
        "cmte_city": ["CITY"] * n_cm,
        "cmte_st": [str(_STATES[i % 10]) for i in range(n_cm)],
        "cmte_zip": [f"{20000 + 11 * i}" for i in range(n_cm)],
        "cmte_dsgn": [["B", "P", "U", "J"][i % 4] for i in range(n_cm)],
        "cmte_tp": [["H", "S", "P", "Q", "N"][i % 5] for i in range(n_cm)],
        "cmte_pty_affiliation": [[None, "DEM", "REP"][i % 3] for i in range(n_cm)],
        "cmte_filing_freq": ["Q"] * n_cm,
        "org_tp": [["C", None, "L", "T"][i % 4] for i in range(n_cm)],
        "connected_org_nm": [None if i % 3 == 0 else f"ORG {i}" for i in range(n_cm)],
        "cand_id": [cand_ids[i % n_cn] if i % 2 == 0 else None for i in range(n_cm)],
    }
    n_ccl = n_cn * 2
    ccl = {
        "cand_id": [cand_ids[i % n_cn] for i in range(n_ccl)],
        "cand_election_yr": [2022] * n_ccl,
        "fec_election_yr": [2022 + 2 * (i % 2) for i in range(n_ccl)],
        "cmte_id": [cmte_ids[(7 * i) % n_cm] for i in range(n_ccl)],
        "cmte_tp": ["H"] * n_ccl,
        "cmte_dsgn": [["P", "A"][i % 2] for i in range(n_ccl)],
        # every 9th linkage repeats its predecessor's linkage_id
        "linkage_id": [100_000 + i - (1 if i % 9 == 8 else 0) for i in range(n_ccl)],
    }

    n_indiv = int(n * 0.7)
    n_oth = n - n_indiv
    indiv = _transactions(rng, n_indiv, 1_000_000, cmte_ids, cand_ids, "indiv", 800_000)
    oth = _transactions(rng, n_oth, 5_000_000, cmte_ids, cand_ids, "oth", 900_000)
    # exact duplicates across the two files: every 50th indiv row is
    # re-filed verbatim in oth (the master's DISTINCT must collapse it)
    dup_rows = list(range(0, n_indiv, 50))
    for c in _TXN_COLS:
        oth[c] = oth[c] + [indiv[c][i] for i in dup_rows]

    n_pas = max(100, n // 10)
    pas = _transactions(rng, n_pas, 9_000_000, cmte_ids, cand_ids, "oth", 700_000)
    pas["cand_id"] = [
        None if i % 11 == 0 else cand_ids[int(v) % n_cn]
        for i, v in enumerate(rng.integers(0, 1 << 30, n_pas))
    ]
    pas_cols = _TXN_COLS[:16] + ["cand_id"] + _TXN_COLS[16:]
    for c in pas_cols:  # exact duplicate pair
        pas[c] = pas[c] + pas[c][:2]

    n_opp = max(100, n // 10)
    opp_memo = rng.random(n_opp) < 0.1
    oppexp = {
        "cmte_id": [cmte_ids[int(v)] for v in _zipf_index(rng, n_cm, n_opp)],
        "amndt_ind": ["N"] * n_opp,
        "rpt_yr": [2022] * n_opp,
        "rpt_tp": ["Q1"] * n_opp,
        "image_num": [f"IMG{i}" for i in range(n_opp)],
        "line_num": ["21B"] * n_opp,
        "form_tp_cd": ["F3"] * n_opp,
        "sched_tp_cd": ["SB"] * n_opp,
        "name": [f"VENDOR {i % 97}" for i in range(n_opp)],
        "city": ["CITY"] * n_opp,
        "state": [str(_STATES[i % 10]) for i in range(n_opp)],
        "zip_code": _messy_zips(rng, n_opp),
        "transaction_dt": [
            None if i % 17 == 0 else f"{i % 12 + 1}/{i % 27 + 1}/2021" for i in range(n_opp)
        ],
        "transaction_amt": list(np.round(rng.lognormal(6, 1.5, n_opp), 2)),
        "transaction_pgi": ["P"] * n_opp,
        "purpose": ["ADS", "PAYROLL", "TRAVEL"] * (n_opp // 3) + ["ADS"] * (n_opp % 3),
        "category": ["004"] * n_opp,
        "category_desc": ["Advertising"] * n_opp,
        "memo_cd": ["X" if opp_memo[i] else None for i in range(n_opp)],
        "memo_text": [None] * n_opp,
        "entity_tp": ["ORG"] * n_opp,
        "sub_id": list(range(20_000_000, 20_000_000 + n_opp)),
        "file_num": list(600_000 + rng.integers(0, 3000, n_opp)),
        "tran_id": [f"E{i}" for i in range(n_opp)],
        "back_ref_tran_id": [None] * n_opp,
        "empty": [None] * n_opp,
    }
    n_ie = max(60, n // 40)
    months = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
    independent = {
        "can_id": [cand_ids[i % n_cn] if i % 4 else None for i in range(n_ie)],
        "can_nam": ["LASTNAME, CAND"] * n_ie,
        "spe_id": [cmte_ids[(3 * i) % n_cm] for i in range(n_ie)],
        "spe_nam": [f"SPENDER {i}" for i in range(n_ie)],
        "ele_typ": ["G"] * n_ie,
        "can_off_sta": ["CA"] * n_ie,
        "can_off_dis": ["01"] * n_ie,
        "can_off": ["H"] * n_ie,
        "can_par_aff": ["DEMOCRATIC" if i % 2 else "REP" for i in range(n_ie)],
        "exp_amo": list(np.round(rng.lognormal(7, 1.0, n_ie), 2)),
        "exp_dat": ["" if i % 5 == 0 else f"{i % 27 + 1}-{months[i % 12]}-21" for i in range(n_ie)],
        "agg_amo": list(np.round(rng.lognormal(8, 1.0, n_ie), 2)),
        "sup_opp": ["S" if i % 2 else "O" for i in range(n_ie)],
        "pur": ["ADS"] * n_ie,
        "pay": [f"PAYEE {i}" for i in range(n_ie)],
        "file_num": [500_000 + i for i in range(n_ie)],
        "amn_ind": ["A" if i % 5 == 4 else "N" for i in range(n_ie)],
        # amendments keep the predecessor's tran id and chain its file_num
        "tra_id": [f"TR{i - 3}" if i % 5 == 4 else f"TR{i}" for i in range(n_ie)],
        "ima_num": [f"IMG{i}" for i in range(n_ie)],
        "rec_dt": ["" if i % 6 == 0 else f"{i % 27 + 1}-{months[(i + 1) % 12]}-21" for i in range(n_ie)],
        "fec_election_yr": [2022] * n_ie,
        "prev_file_num": [500_000 + i - 3 if i % 5 == 4 else None for i in range(n_ie)],
        "dissem_dt": [None] * n_ie,
    }

    landed = {
        "cn": (list(cn), cn),
        "cm": (list(cm), cm),
        "ccl": (list(ccl), ccl),
        "indiv": (_TXN_COLS, indiv),
        "oth": (_TXN_COLS, oth),
        "pas": (pas_cols, pas),
        "oppexp": (list(oppexp), oppexp),
        "independent_expenditure": (list(independent), independent),
    }
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    landed_bytes = 0
    for prefix, (cols, data) in landed.items():
        path = os.path.join(out_dir, f"{prefix}.txt")
        rows[prefix] = _write_pipe(path, cols, data)
        landed_bytes += os.path.getsize(path)

    # expected derivation counts, from the generated rows alone
    master: dict[int, dict] = {}
    for data in (oth, indiv):
        for i in range(len(data["sub_id"])):
            if data["memo_cd"][i] is None:
                master[data["sub_id"][i]] = {c: data[c][i] for c in _TXN_COLS}
    elastic = sum(1 for m in master.values() if _elastic_rows(m))
    pas_master = len({pas["sub_id"][i] for i in range(len(pas["sub_id"])) if pas["memo_cd"][i] is None})
    expected = {
        "rows": rows,
        "landed_rows": sum(rows.values()),
        "landed_bytes": landed_bytes,
        "contributions_master": len(master),
        "contributions_elastic": elastic,
        "pas_master": pas_master,
        "expenditures_master": int(n_opp - opp_memo.sum()) + n_ie,
        "candidate_docs": n_cn,
        "committee_docs": n_cm,
    }
    n_memo = max(400, n // 20)
    memo = _memo_docs(rng, n_memo)
    _write(memo, os.path.join(out_dir, "memo_docs.parquet"))
    expected["memo_docs"] = n_memo
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, sort_keys=True)
    return expected


# ---------------------------------------------------------------------------
# Versioned-store delta stream
# ---------------------------------------------------------------------------


def gen_versioned(out_dir: str, seed: int, n_base: int) -> dict:
    """Base table ``(k, status, price, note)`` over keys ``0..n_base-1``
    plus ``VERSIONED_BATCHES`` delta files ``(k, status, price, note,
    is_del)``. Each delta holds ``VERSIONED_DELTA_SHARE * n_base`` unique
    keys: 60% updates and 10% deletes of live keys, Zipf-skewed towards
    the most recently written ones, and 30% fresh keys above the
    current maximum."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    statuses = np.array(["O", "F", "P"])
    base = pa.table(
        {
            "k": pa.array(np.arange(n_base, dtype=np.int64)),
            "status": statuses[rng.integers(0, 3, n_base)],
            "price": np.round(rng.uniform(1, 1000, n_base), 2),
            "note": [f"n{v}" for v in rng.integers(0, 10**6, n_base)],
        }
    )
    _write(base, os.path.join(out_dir, "base.parquet"))
    live = list(range(n_base))  # ordered by last write, newest at the end
    next_key = n_base
    per_batch = max(10, int(n_base * VERSIONED_DELTA_SHARE))
    n_upd, n_del = int(per_batch * 0.6), int(per_batch * 0.1)
    n_new = per_batch - n_upd - n_del
    delta_bytes = 0
    for b in range(VERSIONED_BATCHES):
        picked: list[int] = []
        seen = set()
        while len(picked) < n_upd + n_del:
            # Zipf rank counted back from the newest write
            r = int(_zipf_index(rng, len(live), 1, a=1.1)[0])
            k = live[len(live) - 1 - r]
            if k not in seen:
                seen.add(k)
                picked.append(k)
        upd, dele = picked[:n_upd], picked[n_upd:]
        new = list(range(next_key, next_key + n_new))
        next_key += n_new
        keys = upd + new + dele
        n = len(keys)
        tbl = pa.table(
            {
                "k": pa.array(keys, pa.int64()),
                "status": statuses[rng.integers(0, 3, n)],
                "price": np.round(rng.uniform(1, 1000, n), 2),
                "note": [f"b{b}-{v}" for v in rng.integers(0, 10**6, n)],
                "is_del": pa.array([False] * (n_upd + n_new) + [True] * n_del),
            }
        )
        path = os.path.join(out_dir, f"delta-{b:03d}.parquet")
        _write(tbl, path)
        delta_bytes += os.path.getsize(path)
        # maintain last-write order: rewritten keys move to the end
        gone = set(dele) | set(upd)
        live = [k for k in live if k not in gone] + upd + new
    meta = {"n_base": n_base, "batches": VERSIONED_BATCHES, "per_batch": per_batch}
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


_GENERATORS = {"fec": gen_fec, "versioned": gen_versioned}


def ensure(root: str, kind: str, seed: int, size: str) -> tuple[str, float]:
    """Generate (or reuse) the ``(kind, seed, size)`` inputs under
    ``root``; returns their directory and the seconds spent generating
    (0.0 on a cache hit)."""
    out = os.path.join(root, f"{kind}-{SIZES[kind][size]}-s{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out, 0.0
    t0 = time.perf_counter()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _GENERATORS[kind](tmp, seed, SIZES[kind][size])
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, time.perf_counter() - t0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--kind", choices=sorted(_GENERATORS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", choices=["tiny", "bench"], default="bench")
    ap.add_argument("--out", required=True, help="cache root; inputs land in a (kind, size, seed) subdirectory")
    args = ap.parse_args()
    path, secs = ensure(args.out, args.kind, args.seed, args.size)
    print(json.dumps({"path": path, "generate_s": round(secs, 3)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
