"""Seeded Synthea-shaped landing generator for the ``mart_etl`` workload.

Writes ``<out>/<load_date>/<table>/<table>.csv`` for every
``SYNTHEA_TABLES`` entry and every load date. Column sets come from the
bundled schema registry. The same seed gives byte-identical files.

Shape:

- an FK spine: every clinical row points at a generated patient,
  encounter and payer;
- the FIXTURES.md section-1 dirt features, on fixed rows of every date:
  ragged rows (one long, one short) and an unnamed trailing header
  column in ``patients``, mixed-case headers, quoted commas, whitespace
  padding, dashed phones, ``' or '`` multi-values in ``observations``,
  exact duplicate rows in ``conditions``, and several payer transitions
  per patient;
- a change plan: each date after the first changes a seeded fraction of
  patient marital statuses, payer ownerships and medication
  descriptions. Every date is a full snapshot, so the expected SCD2
  state after each load follows from the plan (``expected_dims``).
"""

from __future__ import annotations

import csv
import io
import json
import os
import random
from datetime import date, timedelta

from synthea_etl_spark.sources.schema_registry import (
    SYNTHEA_TABLES,
    bundled_registry_dir,
)

# rows per patient for the tables that hang off the patient spine
PER_PATIENT = {
    "encounters": 4,
    "conditions": 3,
    "allergies": 1,
    "medications": 2,
    "observations": 3,
    "careplans": 1,
    "claims": 2,
    "claims_transactions": 2,
    "devices": 1,
    "imaging_studies": 1,
    "immunizations": 1,
    "procedures": 2,
    "supplies": 1,
}
N_PAYERS = 10
N_ORGS = 20
N_PROVIDERS = 30
CHANGE_FRACTION = 0.1
FIRST_DATE = date(2024, 3, 1)
MARITAL = ("M", "S", "D", "W")
OWNERSHIP = ("GOVERNMENT", "PRIVATE", "NO_INSURANCE")
WORDS = ("alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "theta")


def load_dates(n: int) -> list[str]:
    return [(FIRST_DATE + timedelta(days=i)).isoformat() for i in range(n)]


def _registry() -> dict[str, list[dict]]:
    out = {}
    for table in SYNTHEA_TABLES:
        with open(os.path.join(bundled_registry_dir(), f"{table}.json")) as fh:
            out[table] = json.load(fh)
    return out


class _Rand:
    """random.Random restricted to ``random()``, whose sequence Python
    guarantees across versions for a given seed."""

    def __init__(self, seed: int):
        self._r = random.Random(seed)

    def below(self, n: int) -> int:
        return int(self._r.random() * n)

    def pick(self, seq):
        return seq[self.below(len(seq))]

    def sample(self, seq, k: int) -> list:
        pool = list(seq)
        out = []
        for _ in range(min(k, len(pool))):
            out.append(pool.pop(self.below(len(pool))))
        return out


def _typed(rng: _Rand, typ: str) -> str:
    if typ in ("int", "long"):
        return str(100 + rng.below(90000))
    if typ == "double":
        return f"{rng.below(100000) / 100:.2f}"
    if typ == "date":
        return (date(1940, 1, 1) + timedelta(days=rng.below(25000))).isoformat()
    if typ == "timestamp":
        d = date(2015, 1, 1) + timedelta(days=rng.below(3000))
        return f"{d.isoformat()}T{rng.below(24):02d}:{rng.below(60):02d}:00Z"
    return f"{rng.pick(WORDS)}{rng.below(1000)}"


class _World:
    """The seeded entities every load date is a snapshot of."""

    def __init__(self, seed: int, n_patients: int):
        rng = _Rand(seed)
        self.rng = rng
        self.patients = [f"pat{i:05d}" for i in range(n_patients)]
        self.payers = [f"pay{i:03d}" for i in range(N_PAYERS)]
        self.orgs = [f"org{i:03d}" for i in range(N_ORGS)]
        self.providers = [f"prv{i:03d}" for i in range(N_PROVIDERS)]
        self.encounters = [
            (f"enc{i:06d}", p)
            for i, p in enumerate(
                p for p in self.patients for _ in range(PER_PATIENT["encounters"])
            )
        ]
        self.enc_of = {}
        for e, p in self.encounters:
            self.enc_of.setdefault(p, []).append(e)
        self.marital = {p: rng.pick(MARITAL) for p in self.patients}
        self.ownership = {p: rng.pick(OWNERSHIP) for p in self.payers}
        # per-patient distinct medication codes; description versioned
        self.meds = {
            p: [10000 + i * 7 + k for k in range(PER_PATIENT["medications"])]
            for i, p in enumerate(self.patients)
        }
        self.med_version = {(p, c): 0 for p in self.patients for c in self.meds[p]}

    def apply_changes(self, rng: _Rand) -> dict[str, int]:
        """One date's change plan; returns changed-key counts per dim."""
        k = max(1, int(len(self.patients) * CHANGE_FRACTION))
        for p in rng.sample(self.patients, k):
            self.marital[p] = MARITAL[(MARITAL.index(self.marital[p]) + 1) % len(MARITAL)]
        kp = max(1, int(len(self.payers) * 2 * CHANGE_FRACTION))
        for p in rng.sample(self.payers, kp):
            self.ownership[p] = OWNERSHIP[
                (OWNERSHIP.index(self.ownership[p]) + 1) % len(OWNERSHIP)
            ]
        keys = sorted(self.med_version)
        km = max(1, int(len(keys) * CHANGE_FRACTION))
        for key in rng.sample(keys, km):
            self.med_version[key] += 1
        return {"dim_patient": k, "dim_payer": kp, "dim_medication": km}


def _cell(v: str) -> str:
    buf = io.StringIO()
    csv.writer(buf, lineterminator="").writerow([v])
    return buf.getvalue()


def _rows(world: _World, table: str, fields: list[dict], rng: _Rand) -> list[list[str]]:
    """Clean rows (dirt is applied by the caller) for one table."""
    names = [f["name"] for f in fields]

    def generic(i: int, patient: str | None = None) -> dict[str, str]:
        row = {f["name"]: _typed(rng, f["type"]) for f in fields}
        if patient is not None:
            encs = world.enc_of[patient]
            for col in ("patient", "patientid"):
                if col in row:
                    row[col] = patient
            for col in ("encounter", "encounters"):
                if col in row:
                    row[col] = encs[i % len(encs)]
        for col in ("payer", "primarypatientinsuaranceid"):
            if col in row:
                row[col] = world.payers[i % len(world.payers)]
        if "organization" in row:
            row["organization"] = world.orgs[i % len(world.orgs)]
        for col in ("provider", "providerid"):
            if col in row:
                row[col] = world.providers[i % len(world.providers)]
        if "id" in row:
            row["id"] = f"{table[:4]}{i:06d}"
        return row

    out: list[dict[str, str]] = []
    if table == "patients":
        for i, p in enumerate(world.patients):
            r = generic(i)
            r.update(
                id=p,
                first=f"First{i}",
                last=f"Last{i}",
                marital=world.marital[p],
                race=("white", "black", "asian", "other")[i % 4],
                ethnicity=("hispanic", "nonhispanic")[i % 2],
                gender=("M", "F")[i % 2],
                address=f"{i + 1} Elm St, Apt {i % 7 + 1}",
                city=f"City{i % 12}",
                state=("MA", "NY", "CA")[i % 3],
                zip=str(1000 + i),
            )
            out.append(r)
    elif table == "payers":
        for i, p in enumerate(world.payers):
            r = generic(i)
            r.update(id=p, name=f"Payer {i}", ownership=world.ownership[p])
            r["phone"] = f"555-{100 + i}-{1000 + i}"
            out.append(r)
    elif table == "organizations":
        for i, o in enumerate(world.orgs):
            r = generic(i)
            r.update(id=o, phone=f"555-200-{2000 + i}")
            out.append(r)
    elif table == "providers":
        for i, o in enumerate(world.providers):
            r = generic(i)
            r.update(id=o, organization=world.orgs[i % len(world.orgs)])
            out.append(r)
    elif table == "encounters":
        for i, (e, p) in enumerate(world.encounters):
            r = generic(i, p)
            r.update(id=e, patient=p)
            out.append(r)
    elif table == "payer_transitions":
        i = 0
        for n, p in enumerate(world.patients):
            for k in range(2 + n % 2):  # 2 or 3 transitions per patient
                r = generic(i, p)
                r["payer"] = world.payers[(n + k * 3) % len(world.payers)]
                r["start_date"] = f"{2015 + 2 * k + n % 2}-01-01T00:00:00Z"
                out.append(r)
                i += 1
    else:
        per = PER_PATIENT[table]
        i = 0
        for n, p in enumerate(world.patients):
            for k in range(per):
                r = generic(i, p)
                if table == "allergies":
                    r["code"] = str(400000 + n)
                    r["description"] = f"Allergy {n % 9}"
                    r["type"] = "allergy"
                    r["category"] = ("food", "environment")[n % 2]
                elif table == "medications":
                    code = world.meds[p][k]
                    r["code"] = str(code)
                    r["description"] = f"Med {code} v{world.med_version[(p, code)]}"
                elif table == "observations":
                    r["code"] = f"{8000 + k}-{n % 10}"
                    r["description"] = f"Vital {k}"
                    r["units"] = ("cm", "kg", "mmHg")[k]
                out.append(r)
                i += 1
    return [[r[c] for c in names] for r in out]


def _dirty(table: str, fields: list[dict], rows: list[list[str]]) -> tuple[str, list[list[str]]]:
    """Apply the dirt features to one table; returns (header, rows)."""
    names = [f["name"] for f in fields]
    idx = {c: i for i, c in enumerate(names)}
    header = ",".join(names)
    if table == "patients":
        ugly = [c.upper() if i % 2 == 0 else c.title() for i, c in enumerate(names)]
        header = ",".join(ugly) + ","  # unnamed trailing column
        for r in rows[::5]:
            r[idx["first"]] = f"  {r[idx['first']]} "  # padding
        rows[0] = rows[0] + ["junk"]  # long row: truncated
        rows[-1] = rows[-1][: idx["zip"]]  # short row: zip..income -> null
    elif table == "observations":
        for r in rows[::4]:
            r[idx["description"]] = r[idx["description"]] + " or Alternate"
            r[idx["value"]] = "180.1 or 82.5"
    elif table == "conditions":
        rows = rows + [list(r) for r in rows[::6]]  # exact duplicates
    return header, rows


def write_landing(out_dir: str, seed: int, n_dates: int, n_patients: int = 160) -> dict:
    """Write every table for ``n_dates`` load dates; return the plan:
    per-date rows/bytes of each table and the expected SCD2 dim state
    after each load (``operators.marts`` semantics: missing keys carry
    forward, changed keys expire one version and insert one)."""
    reg = _registry()
    world = _World(seed, n_patients)
    plan = {"seed": seed, "dates": [], "rows": {}, "bytes": {}, "expected_dims": {}}
    expired = {"dim_patient": 0, "dim_payer": 0, "dim_medication": 0}
    for k, d in enumerate(load_dates(n_dates)):
        if k > 0:
            for dim, n in world.apply_changes(_Rand(seed * 1000 + k)).items():
                expired[dim] += n
        plan["rows"][d], plan["bytes"][d] = {}, {}
        for t, table in enumerate(SYNTHEA_TABLES):
            # the same generic values every date: only the plan changes rows
            rng = _Rand(seed * 1000 + 500 + t)
            header, rows = _dirty(table, reg[table], _rows(world, table, reg[table], rng))
            text = "\n".join([header] + [",".join(_cell(v) for v in r) for r in rows]) + "\n"
            tdir = os.path.join(out_dir, d, table)
            os.makedirs(tdir, exist_ok=True)
            with open(os.path.join(tdir, f"{table}.csv"), "w", newline="") as fh:
                fh.write(text)
            plan["rows"][d][table] = len(rows)
            plan["bytes"][d][table] = len(text.encode())
        p = len(world.patients)
        plan["dates"].append(d)
        # (active, expired) per dim; dim_location counts the snapshot's
        # addresses with a zip (the short row has none)
        plan["expected_dims"][d] = {
            "dim_patient": (p, expired["dim_patient"]),
            "dim_location": (p - 1, 0),
            "dim_payer": (N_PAYERS, expired["dim_payer"]),
            "dim_allergies": (p * PER_PATIENT["allergies"], 0),
            "dim_medication": (p * PER_PATIENT["medications"], expired["dim_medication"]),
            "dim_observation": (p * PER_PATIENT["observations"], 0),
        }
    return plan
