#!/usr/bin/env python3
"""Seeded WHO-shaped input generator for the serving workloads.

Writes the three CSVs `graft.etl.EtlJob.run` reads, shaped like the WHO
files described in FIXTURES.md section A:

- `WHO-COVID-19-global-data.csv`: 240 country codes x 261 weekly dates
  (2020-01-05 .. 2024-12-29) = 62,640 rows, about 27% blank
  `New_cases`/`New_deaths`, blank and `OTHER` regions, odd codes (`XA`..,
  `NA`), names with commas and non-ASCII letters;
- `vaccination-data.csv`: one snapshot row per country (215 rows), doubles
  in scientific notation (`2.296475E7`), an empty `VACCINES_USED` column,
  names that only match the country dimension after `lower(trim(..))`,
  a few unmatched names and blank dates;
- `vaccination-metadata.csv`: 1,105 rows over 38 vaccine names.

It also writes `expected.json`: answers computed from the generated rows
alone (totals, top-5 lists, per-country series sums and row counts, table
sizes, pages), which the serving workloads check every response against.

Usage: python3 gen_who.py <out_dir> <seed>
"""
import csv
import datetime as dt
import json
import os
import random
import sys

N_CODES = 240
N_WEEKS = 261
FIRST_DATE = dt.date(2020, 1, 5)
N_VACC_ROWS = 215
N_META_ROWS = 1105
N_VACCINES = 38
BLANK_SHARE = 0.266  # 16,637 of 62,640 in the real file

REGIONS = ["AFRO", "AMRO", "EMRO", "EURO", "SEARO", "WPRO"]
ODD_CODES = ["XA", "XB", "XC", "XD", "NA"]
ODD_NAMES = [
    "Bonaire, Sint Eustatius and Saba",
    "Côte d’Ivoire",
    "Curaçao",
    "Iran (Islamic Republic of)",
    "Réunion",
    "Saint Helena, Ascension and Tristan da Cunha",
    "Türkiye",
    "occupied Palestinian territory, including east Jerusalem",
]
TABLE_CAP = 100  # Warehouse.tableScan limit used by /api/table/<name>

WHO_HEADER = ["Date_reported", "Country_code", "Country", "WHO_region",
              "New_cases", "Cumulative_cases", "New_deaths", "Cumulative_deaths"]
VACC_HEADER = ["COUNTRY", "ISO3", "WHO_REGION", "DATA_SOURCE", "DATE_UPDATED",
               "TOTAL_VACCINATIONS", "PERSONS_VACCINATED_1PLUS_DOSE",
               "TOTAL_VACCINATIONS_PER100", "PERSONS_VACCINATED_1PLUS_DOSE_PER100",
               "PERSONS_LAST_DOSE", "PERSONS_LAST_DOSE_PER100", "VACCINES_USED",
               "FIRST_VACCINE_DATE", "NUMBER_VACCINES_TYPES_USED",
               "PERSONS_BOOSTER_ADD_DOSE", "PERSONS_BOOSTER_ADD_DOSE_PER100"]
META_HEADER = ["ISO3", "PRODUCT_NAME", "VACCINE_NAME", "COMPANY_NAME",
               "AUTHORIZATION_DATE", "START_DATE", "END_DATE", "COMMENT",
               "DATA_SOURCE"]


def sci(n: int) -> str:
    """An integer in Java-style scientific notation, exactly: 22964750 ->
    '2.296475E7'. Every digit is kept, so parsing gives back n exactly."""
    s = str(n)
    digits = s.rstrip("0") or "0"
    return f"{digits[0]}.{digits[1:] or '0'}E{len(s) - 1}"


def monday(d: dt.date) -> dt.date:
    return d - dt.timedelta(days=d.weekday())


def make_countries(rng: random.Random):
    letters = "ABCDEFGHIJKLMNOPQRSTUVWYZ"
    pool = sorted({a + b for a in letters for b in letters} - set(ODD_CODES))
    codes = ODD_CODES + rng.sample(pool, N_CODES - len(ODD_CODES))
    rng.shuffle(codes)
    countries = []
    for i, code in enumerate(codes):
        name = ODD_NAMES[i] if i < len(ODD_NAMES) else f"Country {code} {i:03d}"
        roll = rng.random()
        region = "" if roll < 0.02 else "OTHER" if roll < 0.04 else rng.choice(REGIONS)
        # a few large series so the top-5 lists are not ties
        scale = rng.choice([50, 200, 1_000, 5_000, 20_000]) * (1 + i % 7)
        countries.append({"code": code, "name": name, "region": region,
                          "scale": scale})
    return countries


def gen_covid(rng: random.Random, countries):
    rows = []
    for c in countries:
        cum_cases = cum_deaths = 0
        for w in range(N_WEEKS):
            d = FIRST_DATE + dt.timedelta(days=7 * w)
            blank = rng.random() < BLANK_SHARE
            if blank:
                cases = deaths = None
            else:
                cases = int(rng.random() * c["scale"])
                if rng.random() < 0.003:
                    cases = -cases  # the real file carries downward revisions
                deaths = cases // rng.randint(40, 400)
                if rng.random() < 0.01:
                    deaths = None
            cum_cases += cases or 0
            cum_deaths += deaths or 0
            rows.append([d.isoformat(), c["code"], c["name"], c["region"],
                         cases, cum_cases, deaths, cum_deaths])
    return rows


def gen_vaccination(rng: random.Random, countries):
    chosen = rng.sample(countries, N_VACC_ROWS - 3)
    rows = []
    for i, c in enumerate(chosen):
        name = c["name"]
        if i % 17 == 0:
            name = f"  {name.upper()} "  # joins only after lower(trim(..))
        if i == 5:
            total = 3_491_077_000  # above Int.MaxValue, like China's row
        else:
            total = rng.randint(1_000, 9_999_999) * 10 ** rng.randint(0, 3)
        date = "" if i % 53 == 7 else (
            dt.date(2023, 1, 1) + dt.timedelta(days=rng.randint(0, 600))).isoformat()
        rows.append(vacc_row(rng, name, c["region"], date, total))
    # names that match no country dimension row (dropped by the ETL join)
    for j in range(3):
        rows.append(vacc_row(rng, f"Nowhere Land {j}", "OTHER", "2023-06-01",
                             rng.randint(1_000, 99_999)))
    rng.shuffle(rows)
    return rows


def vacc_row(rng, name, region, date, total):
    one_dose = total // 2
    per100 = f"{rng.randint(1, 25000) / 100:.2f}"
    booster = "" if rng.random() < 0.3 else sci(total // 5 or 1)
    return [name, "X" + name.strip()[:2].upper(), region or "OTHER",
            rng.choice(["REPORTING", "OWID"]), date, sci(total), sci(one_dose or 1),
            per100, per100, sci(one_dose // 2 or 1), per100, "",
            "" if rng.random() < 0.2 else "2021-01-15",
            "" if rng.random() < 0.2 else str(rng.randint(1, 9)),
            booster, "" if booster == "" else per100]


def gen_metadata(rng: random.Random):
    names = [f"Vaccine-{k:02d} {rng.choice(['mRNA', 'Vector', 'Inactivated'])}"
             for k in range(N_VACCINES)]
    rows = []
    for i in range(N_META_ROWS):
        v = names[i % N_VACCINES]
        start = "" if rng.random() < 0.25 else "2021-02-01"
        rows.append([f"I{i % 215:02d}", f"{v} product", v, f"Company {i % 11}",
                     "" if rng.random() < 0.3 else "2020-12-21", start, "",
                     "", rng.choice(["REPORTING", "OWID"])])
    return rows


def write_csv(path, header, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        for r in rows:
            w.writerow(["" if v is None else v for v in r])


def expected_answers(countries, covid, vacc):
    """Answers derived from the generated rows only, following the ETL's
    documented semantics (blank counts fill to 0, weekly grain is the Monday
    of each report date, vaccinations join the country dimension on
    lower(trim(name)) and drop blank dates)."""
    name_of = {c["code"]: c["name"] for c in countries}
    code_of_clean = {c["name"].strip().lower(): c["code"] for c in countries}
    weekly = {}  # (code, monday) -> [cases, deaths]
    for d, code, _name, _reg, cases, _cc, deaths, _cd in covid:
        key = (code, monday(dt.date.fromisoformat(d)))
        acc = weekly.setdefault(key, [0, 0])
        acc[0] += cases or 0
        acc[1] += deaths or 0
    shots = []  # (code, day, shots)
    for r in vacc:
        code = code_of_clean.get(r[0].strip().lower())
        if code is None or r[4] == "":
            continue
        shots.append((code, r[4], int(float(r[5]))))

    per_country, totals = {}, {"cases": 0, "deaths": 0}
    for (code, _m), (cases, deaths) in weekly.items():
        pc = per_country.setdefault(code, {"rows": 0, "cases": 0, "deaths": 0,
                                           "vacc_rows": 0, "shots": 0})
        pc["rows"] += 1
        pc["cases"] += cases
        pc["deaths"] += deaths
        totals["cases"] += cases
        totals["deaths"] += deaths
    shots_by_week = {}
    for code, day, n in shots:
        per_country[code]["vacc_rows"] += 1
        per_country[code]["shots"] += n
        d = dt.date.fromisoformat(day)
        k = (code, d.year, d.isocalendar()[1])
        shots_by_week[k] = shots_by_week.get(k, 0) + n
    for code, pc in per_country.items():
        # /weekly_statistics_by_country joins weekly shots on
        # (calendar year, ISO week) of the fact's Monday
        pc["joined_shots"] = sum(
            shots_by_week.get((code, m.year, m.isocalendar()[1]), 0)
            for (c, m) in weekly if c == code)

    def top5(i):
        by_name = sorted(((name_of[c], v[i]) for c, v in
                          ((c, (p["cases"], p["deaths"])) for c, p in per_country.items())),
                         key=lambda t: (-t[1], t[0]))
        return [[n, v] for n, v in by_name[:5]]

    # pagination order: country name ascending, then date
    page_rows = sorted(
        ((name_of[c], m.isoformat(), v[0], v[1],
          shots_by_week.get((c, m.year, m.isocalendar()[1])))
         for (c, m), v in weekly.items()),
        key=lambda t: (t[0], t[1]))
    cases_by_date, shots_by_date = {}, {}
    for (_c, m), v in weekly.items():
        cases_by_date[m.isoformat()] = cases_by_date.get(m.isoformat(), 0) + v[0]
    for _c, day, n in shots:
        shots_by_date[day] = shots_by_date.get(day, 0) + n
    regions = {("UNKNOWN" if c["region"] == "" else c["region"]) for c in countries}
    table_rows = {
        "who_region": len(regions), "country": len(countries), "disease": 1,
        "vaccine": N_VACCINES + 1, "weekly_statistics": len(weekly),
        "daily_vaccine_statistics": len(shots),
    }
    return {
        "total_cases": totals["cases"],
        "total_deaths": totals["deaths"],
        "total_vaccines": sum(n for _c, _d, n in shots),
        "top5_cases": top5(0),
        "top5_deaths": top5(1),
        "per_country": per_country,
        "weekly_rows": len(weekly),
        "page_rows": page_rows,
        "cases_evolution": sorted(cases_by_date.items()),
        "vaccinations_evolution": sorted(shots_by_date.items()),
        "table_rows": {k: min(v, TABLE_CAP) for k, v in table_rows.items()},
        "codes": sorted(per_country),
        "vacc_codes": sorted({c for c, _d, _n in shots}),
    }


def generate(out_dir: str, seed: int) -> dict:
    rng = random.Random(seed)
    countries = make_countries(rng)
    covid = gen_covid(rng, countries)
    vacc = gen_vaccination(rng, countries)
    meta = gen_metadata(rng)
    os.makedirs(out_dir, exist_ok=True)
    write_csv(os.path.join(out_dir, "WHO-COVID-19-global-data.csv"), WHO_HEADER, covid)
    write_csv(os.path.join(out_dir, "vaccination-data.csv"), VACC_HEADER, vacc)
    write_csv(os.path.join(out_dir, "vaccination-metadata.csv"), META_HEADER, meta)
    text = json.dumps(expected_answers(countries, covid, vacc), sort_keys=True)
    with open(os.path.join(out_dir, "expected.json"), "w", encoding="utf-8") as f:
        f.write(text)
    return json.loads(text)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
