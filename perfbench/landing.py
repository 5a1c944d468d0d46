"""Seeded landing zone for the ``medallion_daily`` workload.

Writes Geod'Air-shaped hourly measurement CSVs (``;``-separated, UTF-8
with a BOM on the header) as ``<code>/polluant-<code>_<YYYY-MM-DD>.csv``,
one file per active pollutant and day, and predicts how many rows each
zone of the bronze -> silver -> gold pipeline must hold.

The quirks of the reference corpus go in at fixed rates:

- exact duplicates: rows of the previous day's file repeated verbatim in
  the next file (an overlapping re-fetch);
- primary-key duplicates: rows of the previous day repeated with another
  value, which the silver first-writer-wins dedup must drop;
- blank cells (``valeur``/``valeur_brute`` empty, quality ``N``);
- all-blank rows, which silver drops;
- the unmapped ``µg/m3`` unit variant on some NO2 rows;
- date-only timestamps on midnight rows and malformed timestamps, which
  parse to NULL: silver keeps one such row per (pollutant, site) and the
  null-safe gold merge one per site;
- one nonconforming filename, which bronze must skip;
- sites measured for some pollutants and not others.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass

HEADER = [
    "Date de début", "Date de fin", "Organisme", "code zas", "Zas",
    "code site", "nom site", "type d'implantation", "Polluant",
    "type d'influence", "discriminant", "Réglementaire",
    "type d'évaluation", "procédure de mesure", "type de valeur", "valeur",
    "valeur brute", "unité de mesure", "taux de saisie",
    "couverture temporelle", "couverture de données", "code qualité",
    "validité",
]

# (code, short name, unit, share of the site pool it measures)
POLLUTANTS = [
    ("01", "SO2", "µg-m3", 0.20),
    ("03", "NO2", "µg-m3", 0.95),
    ("04", "CO", "mg-m3", 0.05),
    ("08", "O3", "µg-m3", 0.45),
    ("12", "NOX", "µg-m3", 0.65),
]

EXACT_DUP_RATE = 0.02
PK_DUP_RATE = 0.01
BLANK_VALUE_RATE = 0.03
UNIT_VARIANT_RATE = 0.015  # NO2 rows only
BLANK_ROWS_PER_FILE = 2
MALFORMED_SITES_PER_FILE = 2
_MALFORMED = ["2025/13/01 00:00:00", "n/a", "31/12/2024 00:00"]
_ORGS = ["ATMO SUD", "AIRPARIF", "ATMO GRAND EST", "AIR BREIZH"]
_IMPLANT = ["Urbaine", "Périurbaine", "Rurale"]
_INFLUENCE = ["Industrielle", "Fond", "Trafic"]
_DISCRIM = ["A", "B", "C", "E", "0", "1", "2", ""]


@dataclass(frozen=True)
class Prediction:
    """Row counts each zone must hold after one pipeline run."""

    bronze_rows: int
    silver_rows: int
    gold_rows: int
    files: int
    landing_bytes: int


def _fmt(t: dt.datetime) -> str:
    return t.strftime("%Y/%m/%d %H:%M:%S")


def write_landing(out_dir: str, seed: int, sites: int, days: int) -> Prediction:
    """Write the landing zone under ``out_dir`` and return its prediction."""
    rng = random.Random(seed)
    pool = [f"FR{10000 + 37 * i + seed % 37:05d}" for i in range(sites)]
    site_attr = {
        s: (
            rng.choice(_ORGS), f"FR{rng.randint(1, 95):02d}ZAG{rng.randint(1, 9):02d}",
            f"Site {s[2:]}", rng.choice(_IMPLANT), rng.choice(_INFLUENCE),
            rng.choice(_DISCRIM), rng.uniform(2.0, 60.0),
        )
        for s in pool
    }
    start = dt.datetime(2024, 1, 1) + dt.timedelta(days=seed % 300)
    bronze = 0
    silver = 0
    gold_keys: set[tuple[str, int]] = set()
    null_date_sites: set[str] = set()
    files = 0
    nbytes = 0

    for code, short, unit, share in POLLUTANTS:
        measured = sorted(rng.sample(pool, max(1, round(share * sites))))
        silver += len(measured) * days * 24
        gold_keys.update((s, h) for s in measured for h in range(days * 24))
        malformed_sites: set[str] = set()
        prev: list[list[str]] = []
        for d in range(days):
            day = start + dt.timedelta(days=d)
            date_only = (d + int(code)) % 4 == 0
            rows = []
            for s in measured:
                org, zas_code, name, implant, influence, disc, base = site_attr[s]
                for h in range(24):
                    t0 = day + dt.timedelta(hours=h)
                    v = base * (1.0 + 0.3 * ((h - 12) / 12.0)) + rng.gauss(0, 3.0)
                    if short == "SO2":
                        v -= 4.0  # low SO2 readings go negative, as in the corpus
                    blank = rng.random() < BLANK_VALUE_RATE
                    row_unit = unit
                    if short == "NO2" and rng.random() < UNIT_VARIANT_RATE:
                        row_unit = "µg/m3"
                    rows.append([
                        t0.strftime("%Y/%m/%d") if h == 0 and date_only else _fmt(t0),
                        _fmt(t0 + dt.timedelta(hours=1)), org, zas_code,
                        f"ZAG {name.upper()}", s, name, implant, short, influence,
                        disc, "Oui", "mesures fixes", f"Auto {short} API 100E",
                        "moyenne horaire validée",
                        "" if blank else f"{v:.1f}",
                        "" if blank else f"{v + rng.gauss(0, 0.05):.5f}",
                        row_unit,
                        "" if rng.random() < 0.7 else f"{rng.uniform(75, 100):.1f}",
                        "", "", "N" if blank else rng.choice("AAAAR"),
                        "-1" if blank else "1",
                    ])
            extra = []
            if prev:
                picks = rng.sample(range(len(prev)), int(len(prev) * (EXACT_DUP_RATE + PK_DUP_RATE)))
                n_exact = int(len(prev) * EXACT_DUP_RATE)
                for i, j in enumerate(picks):
                    row = list(prev[j])
                    if i >= n_exact:
                        row[15] = f"{float(row[15] or 0) + 1.0:.1f}"
                    extra.append(row)
            for s in rng.sample(measured, min(MALFORMED_SITES_PER_FILE, len(measured))):
                row = list(rows[measured.index(s) * 24 + rng.randrange(24)])
                row[0] = rng.choice(_MALFORMED)
                extra.append(row)
                malformed_sites.add(s)
            extra += [[""] * len(HEADER)] * BLANK_ROWS_PER_FILE
            body = rows + extra
            prev = rows
            nbytes += _write_csv(out_dir, code, f"polluant-{code}_{day:%Y-%m-%d}.csv", body)
            bronze += len(body)
            files += 1
        silver += len(malformed_sites)
        null_date_sites |= malformed_sites
    # A re-export under a nonconforming name: the filename glob must skip it.
    nbytes += _write_csv(out_dir, "01", f"export-01_{start:%Y-%m-%d}.csv", prev[:24])
    gold = len(gold_keys) + len(null_date_sites)
    return Prediction(bronze, silver, gold, files, nbytes)


def _write_csv(out_dir: str, code: str, name: str, rows: list[list[str]]) -> int:
    folder = os.path.join(out_dir, code)
    os.makedirs(folder, exist_ok=True)
    text = "\ufeff" + ";".join(HEADER) + "\n" + "".join(";".join(r) + "\n" for r in rows)
    data = text.encode("utf-8")
    with open(os.path.join(folder, name), "wb") as fh:
        fh.write(data)
    return len(data)
