"""The paper's own input: a dirty multilingual expense export.

The columns of FIXTURES.md A1 that carry its dirty-data cases; the
auxiliary columns are left out because the pipeline's cost grows with the
column count (two sample jobs per column), not with the row count. Distinct counts of the German text columns keep
the reference's translated-map proportions (merchant 21,775, trip name
11,226, account 122, code 5 at 50k rows), scaled to the row
count. The file also carries placeholders, exact duplicate rows, a fully
empty ``Unnamed: 12`` column, a column whose name collides with
``Merchant `` after normalisation, and numeric and date strings.

``make_expense`` returns the CSV text, the translation overlay the
provider applies, and the expectation the pipeline's sink is checked
against. Everything is a function of the seed.
"""

from __future__ import annotations

import csv
import io
import random
from collections import Counter

REF_ROWS = 50_000
# distinct values at REF_ROWS rows; the two free-text columns scale with
# the row count, the two category columns do not
REF_DISTINCT = {"merchant": 21_775, "trip_name": 11_226, "expense_account_name": 122}
SCALED = ("merchant", "trip_name")
PLACEHOLDERS = ["n/a", "-", "none", "null", ""]

# German word -> English word; every German text value is three of these.
WORDS = {
    "merchant": [
        {"Tankstelle": "Petrol station", "Bäckerei": "Bakery", "Gasthof": "Inn",
         "Parkhaus": "Car park", "Apotheke": "Pharmacy", "Buchhandlung": "Bookshop",
         "Metzgerei": "Butcher", "Brauhaus": "Brewery", "Autohaus": "Car dealer",
         "Kaufhaus": "Department store", "Reisebüro": "Travel agency",
         "Schreibwaren": "Stationery", "Getränkemarkt": "Drinks market",
         "Gaststätte": "Restaurant", "Waschstraße": "Car wash", "Blumenladen": "Florist",
         "Fahrradladen": "Bike shop", "Konditorei": "Patisserie", "Eisdiele": "Ice cream parlour",
         "Fischhandel": "Fishmonger", "Weinhandlung": "Wine shop", "Raststätte": "Service area",
         "Kiosk": "Kiosk", "Druckerei": "Print shop", "Elektromarkt": "Electronics store"},
        {"Bahnhof": "Station", "Altstadt": "Old town", "Hauptstraße": "High street",
         "Marktplatz": "Market square", "Flughafen": "Airport", "Nordring": "North ring",
         "Südstadt": "South town", "Westend": "West end", "Ostpark": "East park",
         "Domplatz": "Cathedral square", "Brückenweg": "Bridge lane", "Gewerbegebiet": "Business park",
         "Uferstraße": "Riverside road", "Schlossallee": "Castle avenue", "Messegelände": "Fairground",
         "Hafen": "Harbour", "Zentrum": "Centre", "Rathaus": "Town hall",
         "Lindenhof": "Linden court", "Kirchgasse": "Church lane", "Mühlweg": "Mill way",
         "Bergstraße": "Hill road", "Seeufer": "Lakeside", "Waldweg": "Forest path",
         "Gartenstraße": "Garden street"},
        {"Würzburg": "Wurzburg", "München": "Munich", "Nürnberg": "Nuremberg", "Köln": "Cologne",
         "Düsseldorf": "Dusseldorf", "Lübeck": "Lubeck", "Göttingen": "Gottingen",
         "Magdeburg": "Magdeburg", "Stuttgart": "Stuttgart", "Dresden": "Dresden",
         "Saarbrücken": "Saarbrucken", "Tübingen": "Tubingen", "Osnabrück": "Osnabruck",
         "Fürth": "Furth", "Zürich": "Zurich", "Wien": "Vienna", "Braunschweig": "Brunswick",
         "Mülheim": "Mulheim", "Jülich": "Julich", "Gießen": "Giessen",
         "Lüneburg": "Luneburg", "Bückeburg": "Buckeburg", "Kärnten": "Carinthia",
         "Völklingen": "Volklingen", "Görlitz": "Gorlitz"},
    ],
    "trip_name": [
        {"Kundentermin": "Customer meeting", "Abreise": "Departure", "Anreise": "Arrival",
         "Messebesuch": "Trade fair visit", "Schulung": "Training", "Projektbesprechung": "Project meeting",
         "Werksbesichtigung": "Plant tour", "Jahrestagung": "Annual meeting",
         "Vertriebsreise": "Sales trip", "Prüfungstermin": "Audit appointment",
         "Einführung": "Onboarding", "Abnahme": "Acceptance", "Wartung": "Maintenance",
         "Übergabe": "Handover", "Beratung": "Consulting", "Workshop": "Workshop",
         "Konferenz": "Conference", "Begehung": "Inspection", "Vortrag": "Talk",
         "Verhandlung": "Negotiation"},
        {"Würzburg": "Wurzburg", "München": "Munich", "Nürnberg": "Nuremberg", "Köln": "Cologne",
         "Düsseldorf": "Dusseldorf", "Lübeck": "Lubeck", "Göttingen": "Gottingen",
         "Magdeburg": "Magdeburg", "Stuttgart": "Stuttgart", "Dresden": "Dresden",
         "Zürich": "Zurich", "Wien": "Vienna", "Fürth": "Furth", "Gießen": "Giessen",
         "Tübingen": "Tubingen", "Lüneburg": "Luneburg", "Görlitz": "Gorlitz",
         "Mülheim": "Mulheim", "Osnabrück": "Osnabruck", "Saarbrücken": "Saarbrucken"},
        {"Januar": "January", "Februar": "February", "März": "March", "April": "April",
         "Mai": "May", "Juni": "June", "Juli": "July", "August": "August",
         "September": "September", "Oktober": "October", "November": "November",
         "Dezember": "December", "Frühjahr": "Spring", "Sommer": "Summer",
         "Herbst": "Autumn", "Winter": "Winter", "Quartalsende": "Quarter end",
         "Jahresende": "Year end", "Wochenmitte": "Midweek", "Monatsanfang": "Start of month"},
    ],
    "expense_account_name": [
        {"Fernverkehr": "Long-distance transport", "Nahverkehr": "Local transport",
         "Verpflegung": "Meals", "Übernachtung": "Lodging", "Büroausstattung": "Office equipment",
         "Bewirtung": "Hospitality", "Fortbildung": "Further training", "Kraftstoff": "Fuel",
         "Mietwagen": "Rental car", "Parkgebühren": "Parking fees", "Telefonkosten": "Phone costs",
         "Porto": "Postage", "Fachliteratur": "Specialist literature", "Geschenke": "Gifts"},
        {"Inland": "Domestic", "Ausland": "Abroad", "Pauschal": "Flat rate"},
        {"Bahn": "Train", "Flug": "Flight", "Taxi": "Taxi"},
    ],
}
HEADER = [
    "Merchant ", "Trip Name", "Expense Account Name", "Mileage Code", "Amount",
    "Transaction Date", "Unnamed: 12", "merchant",
]
TRANSLATED = ["merchant", "trip_name", "expense_account_name"]
STAR = {
    "DIM_Merchant": ["merchant"],
    "DIM_Trip": ["trip_name"],
    "DIM_Account": ["expense_account_name", "mileage_code"],
    "DIM_Date": ["transaction_date"],
    "FACT_Expense": ["amount"],
}


def _values(rng: random.Random, col: str, n: int) -> tuple[list[str], dict[str, str]]:
    """``n`` distinct German values of ``col`` and their English translations."""
    lists = [list(w.items()) for w in WORDS[col]]
    combos = [(a, b, c) for a in lists[0] for b in lists[1] for c in lists[2]]
    picked = rng.sample(combos, min(n, len(combos)))
    de = [" ".join(w[0] for w in t) for t in picked]
    en = [" ".join(w[1] for w in t) for t in picked]
    return de, dict(zip(de, en))


def make_expense(seed: int, n_rows: int) -> tuple[str, dict[str, str], dict]:
    """(csv text, provider overlay, expectation) for ``n_rows`` data rows."""
    rng = random.Random(seed)
    n_base = n_rows - n_rows // 33  # ~3% of the rows are exact duplicates
    pools, overlay = {}, {}
    for col, full in REF_DISTINCT.items():
        n = round(full * n_rows / REF_ROWS) if col in SCALED else full
        de, en = _values(rng, col, n)
        pools[col] = de
        # the provider knows ~60% of the values; the rest pass through unchanged
        overlay.update({v: en[v] for v in de if rng.random() < 0.6})
    rows, expected = [], {c: Counter() for c in TRANSLATED}
    for i in range(n_base):
        # every distinct value occurs at least once
        vals = {c: pools[c][i] if i < len(pools[c]) else rng.choice(pools[c]) for c in TRANSLATED}
        if rng.random() < 0.05:
            vals["trip_name"] = rng.choice(PLACEHOLDERS)
        for c, v in vals.items():
            expected[c][None if v in PLACEHOLDERS else overlay.get(v, v)] += 1
        merchant = vals["merchant"]
        if rng.random() < 0.1:
            merchant = f"  {merchant} "
        amount = 1 + i / 100  # unique, so base rows stay distinct after cleaning
        day = rng.randrange(365)
        month, dom = 1 + day // 31 % 12, 1 + day % 28
        date = rng.choice([f"2023-{month:02d}-{dom:02d}", f"{dom:02d}.{month:02d}.2023",
                           f"{month:02d}/{dom:02d}/2023"])
        rows.append([
            merchant, vals["trip_name"], vals["expense_account_name"],
            f"M{rng.randrange(1, 6):02d}",
            rng.choice([f"{amount:.2f}", f" {amount:.2f} ", f"{amount:.5e}"]),
            "kein Datum" if rng.random() < 0.01 else date,
            "", "x",
        ])
    dups = [rows[rng.randrange(n_base)] for _ in range(n_rows - n_base)]
    rows += dups
    rng.shuffle(rows)
    buf = io.StringIO()
    writer = csv.writer(buf, lineterminator="\n")
    writer.writerow(HEADER)
    writer.writerows(rows)
    expectation = {"rows": n_base, "values": expected, "tables": STAR}
    return buf.getvalue(), overlay, expectation
