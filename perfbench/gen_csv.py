"""Seeded generator of the messy Superstore CSV (FIXTURES.md F1).

The file reproduces messiness knobs 1-5 of the reference input:

1. a trailing ``;`` on the header and on every record whose Product Name
   holds no ``;``;
2. double-encoding: a record whose Product Name holds ``,`` or ``"`` is
   wrapped in one quote pair with its inner quotes doubled;
3. name truncation: some lines of a comma-named product carry the name
   cut at its first comma;
4. planted near-duplicate lines: an ``(Order ID, Product ID)`` pair
   repeated later in the file with other Quantity/Sales/Profit;
5. CP1252-only characters (NBSP, curly quotes, accents) inside names.

Next to the CSV the generator returns the ground truth a correct load
must reproduce: the record count, the planted pairs, distinct customer,
product and geography counts, and exact decimal sums over the
post-dedup lines by (region, segment, category, year). Records are built
in memory first so the same seed always gives byte-identical files.
"""

from __future__ import annotations

import csv
import io
import random
from datetime import date, timedelta
from decimal import ROUND_HALF_EVEN, Decimal
from fractions import Fraction

HEADER = (
    "Row ID,Order ID,Order Date,Ship Date,Ship Mode,Customer ID,"
    "Customer Name,Segment,Country,City,State,Postal Code,Region,"
    "Product ID,Category,Sub-Category,Product Name,Sales,Quantity,"
    "Discount,Profit"
)

CATEGORIES = {
    "Furniture": ["Bookcases", "Chairs", "Furnishings", "Tables"],
    "Office Supplies": [
        "Appliances", "Art", "Binders", "Envelopes", "Fasteners",
        "Labels", "Paper", "Storage", "Supplies",
    ],
    "Technology": ["Accessories", "Copiers", "Machines", "Phones"],
}
REGIONS = ["Central", "East", "South", "West"]
SEGMENTS = ["Consumer", "Corporate", "Home Office"]
SHIP_MODES = ["Standard Class", "Second Class", "First Class", "Same Day"]
DISCOUNTS = ["0", "0.1", "0.15", "0.2", "0.3", "0.32", "0.4", "0.45",
             "0.5", "0.6", "0.7", "0.8"]
FIRST_DAY = date(2014, 1, 3)
LAST_DAY = date(2017, 12, 30)

_WORDS = ["Acme", "Avery", "Deluxe", "Executive", "Steel", "Oak", "Flex",
          "Ultra", "Classic", "Swivel", "Binder", "Stand", "Wireless",
          "Compact", "Heavy", "Duty", "Frame", "Desk", "Premium", "Smart"]
_FIRST = ["Aaron", "Bea", "Carl", "Dana", "Eli", "Fay", "Gus", "Hana",
          "Ivo", "Jo", "Kai", "Lea", "Max", "Nia", "Otto", "Pia"]
_LAST = ["Adams", "Brook", "Chen", "Diaz", "Evans", "Fox", "Gray",
         "Hale", "Ito", "Jones", "Khan", "Lopez", "Moss", "Novak"]
#: CP1252 code points beyond ASCII that reference names carry (knob 5)
_CP1252_EXTRA = ["\u00a0", "“", "”", "ö", "ä", "ü", "é", "à", "¾"]

_Q4 = Decimal("0.0001")


def _dec_str(d: Decimal) -> str:
    """Plain decimal text without trailing zeros, as the reference writes."""
    s = format(d, "f")
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return "0" if s in ("", "-0") else s


def _mdy(d: date) -> str:
    return f"{d.month}/{d.day}/{d.year}"


def _product_name(rng: random.Random) -> str:
    words = rng.sample(_WORDS, rng.randint(2, 4))
    if rng.random() < 0.08:
        words.insert(1, rng.choice(_CP1252_EXTRA[3:]) + "ko")
    name = " ".join(words)
    if rng.random() < 0.05:
        name = name.replace(" ", "\u00a0", 1)
    r = rng.random()
    if r < 0.22:
        name += ", " + rng.choice(["Black", "Blue", "Gray", "5/Pack", "Set of 2"])
    elif r < 0.25:
        name += ' 12" x 9"'
    elif r < 0.26:
        name = "“" + name + "” Edition"
    elif r < 0.27:
        name += "; Refill"
    return name


def _pools(rng: random.Random, n_customers: int, n_products: int, n_geos: int):
    customers = []
    for i in range(n_customers):
        name = f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"
        cid = f"{name[0]}{name.split()[1][0]}-{10000 + i * 7:05d}"
        customers.append((cid, f"{name} {i}", rng.choice(SEGMENTS)))
    products = []
    subcats = [(c, s) for c, subs in CATEGORIES.items() for s in subs]
    for i in range(n_products):
        cat, sub = rng.choice(subcats)
        pid = f"{cat[:3].upper()}-{sub[:2].upper()}-{10000000 + i * 13:08d}"
        price = Decimal(rng.randint(100, 300000)) / 100
        products.append((pid, cat, sub, _product_name(rng), price))
    geos = []
    for i in range(n_geos):
        region = REGIONS[i % 4]
        state = f"{region}land {i % 12}"
        # East zip codes start with 0, so the file loses a leading zero
        postal = 1000 + (i * 37) % 9000 if region == "East" else 10000 + (i * 97) % 89999
        geos.append((f"City {i:03d}", state, str(postal), region))
    return customers, products, geos


def _price_line(rng: random.Random, price: Decimal):
    qty = rng.randint(1, 14)
    disc = rng.choice(DISCOUNTS)
    sales = (price * qty * (1 - Decimal(disc))).quantize(_Q4, ROUND_HALF_EVEN)
    margin = Decimal(rng.randint(-40, 50)) / 100
    profit = (sales * margin).quantize(_Q4, ROUND_HALF_EVEN)
    return qty, disc, sales, profit


def _mess(fields: list[str]) -> str:
    """Knobs 1 and 2 applied to one CSV-encoded record."""
    buf = io.StringIO()
    csv.writer(buf, lineterminator="").writerow(fields)
    line = buf.getvalue()
    name = fields[16]
    if "," in name or '"' in name:
        line = '"' + line.replace('"', '""') + '"'
    if ";" not in name:
        line += ";"
    return line


def generate(
    seed: int,
    n_records: int,
    n_dups: int,
    n_customers: int = 793,
    n_products: int = 1862,
    n_geos: int = 632,
    first_day: date = FIRST_DAY,
    last_day: date = LAST_DAY,
    order_prefix: str = "",
    pool_seed: int | None = None,
) -> tuple[bytes, dict, list[list[str]]]:
    """Return ``(csv_bytes, truth, records)``.

    ``records`` are the 21 clean fields of every line in file order, the
    reference a lossless recovery must reproduce field for field.
    ``order_prefix`` keeps Order IDs of separately generated files (daily
    deltas) disjoint; files generated with one ``pool_seed`` share their
    customer, product and geography pools."""
    pools = random.Random(seed if pool_seed is None else pool_seed)
    customers, products, geos = _pools(pools, n_customers, n_products, n_geos)
    rng = random.Random(seed)
    span = (last_day - first_day).days
    lines: list[dict] = []
    order_no = 0
    while len(lines) < n_records - n_dups:
        order_no += 1
        day = first_day + timedelta(days=rng.randint(0, span))
        cust = rng.choice(customers)
        geo = rng.choice(geos)
        mode = rng.choice(SHIP_MODES)
        ship = day + timedelta(days=rng.randint(0, 7))
        oid = f"{rng.choice(['CA', 'US'])}-{day.year}-{order_prefix}{order_no:06d}"
        k = min(14, 1 + int(rng.expovariate(1.0)), n_records - n_dups - len(lines))
        for prod in rng.sample(products, k):
            qty, disc, sales, profit = _price_line(rng, prod[4])
            name = prod[3]
            if "," in name and rng.random() < 0.05:
                name = name.split(",", 1)[0].strip()
            lines.append({
                "order": oid, "day": day, "ship": ship, "mode": mode,
                "cust": cust, "geo": geo, "prod": prod, "name": name,
                "qty": qty, "disc": disc, "sales": sales, "profit": profit,
                "dup": False,
            })
    planted = []
    for orig in sorted(rng.sample(range(len(lines)), n_dups), reverse=True):
        src = lines[orig]
        qty, disc, sales, profit = _price_line(rng, src["prod"][4])
        dup = {**src, "qty": qty, "disc": disc, "sales": sales,
               "profit": profit, "dup": True}
        lines.insert(rng.randint(orig + 1, len(lines)), dup)
        planted.append([src["order"], src["prod"][0]])

    records = []
    for i, ln in enumerate(lines, start=1):
        cid, cname, segment = ln["cust"]
        city, state, postal, region = ln["geo"]
        pid, cat, sub, _, _ = ln["prod"]
        records.append([
            str(i), ln["order"], _mdy(ln["day"]), _mdy(ln["ship"]), ln["mode"],
            cid, cname, segment, "United States", city, state, postal, region,
            pid, cat, sub, ln["name"], _dec_str(ln["sales"]), str(ln["qty"]),
            ln["disc"], _dec_str(ln["profit"]),
        ])
    return to_csv_bytes(records), _truth(lines, planted), records


def to_csv_bytes(records: list[list[str]]) -> bytes:
    """The messy CP1252/CRLF file holding ``records`` in order."""
    body = "\r\n".join(_mess(r) for r in records)
    return (HEADER + ";\r\n" + body + "\r\n").encode("cp1252")


def _truth(lines: list[dict], planted: list[list[str]]) -> dict:
    cube: dict[tuple, list] = {}
    suspicious = 0
    for ln in lines:
        if ln["dup"]:
            continue
        key = (ln["geo"][3], ln["cust"][2], ln["prod"][1], ln["day"].year)
        cell = cube.setdefault(key, [0, 0, Decimal(0), Decimal(0)])
        cell[0] += 1
        cell[1] += ln["qty"]
        cell[2] += ln["sales"]
        cell[3] += ln["profit"]
        if ln["disc"] != "0":
            s, p = ln["sales"], ln["profit"]
            if s == 0 or not (Fraction(5, 100) <= Fraction(p) / Fraction(s) <= Fraction(1, 2)):
                suspicious += 1
    kept = [ln for ln in lines if not ln["dup"]]
    return {
        "records": len(lines),
        "planted_duplicates": planted,
        "customers": len({ln["cust"][0] for ln in kept}),
        "products": len({ln["prod"][0] for ln in kept}),
        "geographies": len({ln["geo"] for ln in kept}),
        "suspicious_discount_lines": suspicious,
        "cube": [
            {"region": k[0], "segment": k[1], "category": k[2], "year": k[3],
             "lines": v[0], "quantity": v[1], "sales": str(v[2]), "profit": str(v[3])}
            for k, v in sorted(cube.items())
        ],
    }


def cube_totals(truth: dict, keys: tuple[str, ...], **where) -> dict:
    """Sum the ground-truth cube over the cells matching ``where`` (a
    field → allowed values map), grouped by ``keys``: the expected result
    of any slicer or predicate over the star."""
    out: dict[tuple, list] = {}
    for c in truth["cube"]:
        if any(c[f] not in allowed for f, allowed in where.items()):
            continue
        acc = out.setdefault(tuple(c[k] for k in keys), [0, 0, Decimal(0), Decimal(0)])
        acc[0] += c["lines"]
        acc[1] += c["quantity"]
        acc[2] += Decimal(c["sales"])
        acc[3] += Decimal(c["profit"])
    return out
