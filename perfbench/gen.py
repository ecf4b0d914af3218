"""Seeded input generator for the perfbench workloads.

Everything the program reads is made here from the seed; the same seed
gives byte-identical files. Two families of inputs:

* Cocktails feeds shaped like the reference's four sources (FIXTURES.md
  F1-F4): three city sales feeds, the glass-stock CSV, an API-shaped drink
  catalog and the watermark file. Every dirty feature the cleaning code
  exists for is present: the discarded Hungarian header, the headerless
  London TSV, New York US dates at minute precision, "34 glasses"-style
  stock, the "coper mug" typo, case variants of glass and drink names,
  fuzzy multi-match catalog names, duplicate 6-column catalog keys with
  different dateModified, null dateModified, and drinks sold with no
  catalog match. Feeds come whole (one file per city), cumulative per day
  (the reference's daily extracts), or as one file per city per day (the
  streaming landing layout).
* TPC-H-ish star tables plus events/documents/embeddings with the schema
  of the sf test data (TESTDATA.md), for the operator query mix.
"""
import datetime as dt
import gzip
import json
import os
import random

CITIES = ("budapest", "london", "new york")
START = dt.datetime(2020, 12, 25)
DAYS = 7
EPOCH = "1900-01-01 00:00:00"
WM_KEY = {"budapest": "BUDA_date_max", "london": "LON_date_max",
          "new york": "NYC_date_max"}
FEED_FILE = {"budapest": "budapest.csv.gz", "london": "london_transactions.csv.gz",
             "new york": "ny.csv.gz"}

GLASSES = [
    "Highball glass", "Cocktail glass", "Old-fashioned glass", "Whiskey glass",
    "Collins glass", "Pousse cafe glass", "Champagne flute", "Whiskey sour glass",
    "Cordial glass", "Brandy snifter", "White wine glass", "Nick and Nora glass",
    "Hurricane glass", "Coffee mug", "Shot glass", "Jar", "Irish coffee cup",
    "Punch bowl", "Pitcher", "Pint glass", "Copper mug", "Wine glass", "Beer mug",
    "Margarita glass", "Beer pilsner", "Parfait glass", "Mason jar",
    "Martini glass", "Balloon glass", "Coupe glass", "Tiki mug"]
# catalog-only glass: joins no stock row (NULL stock -> NULL comment)
UNSTOCKED_GLASS = "Tin cup"

BASES = [
    "Mojito", "Margarita", "Daiquiri", "Negroni", "Manhattan", "Martini",
    "Old Fashioned", "Cosmopolitan", "Sweet Sangria", "Paradise", "Mai Tai",
    "Pina Colada", "Bellini", "Mimosa", "Sidecar", "Caipirinha", "Bramble",
    "Gimlet", "Paloma", "Americano", "Aviation", "Boulevardier", "Sazerac",
    "Zombie", "Hurricane", "Kir", "Bloody Mary", "Tom Collins", "Moscow Mule",
    "Mint Julep", "White Russian", "Black Russian", "Long Island Tea",
    "Espresso Martini", "French 75", "Gin Fizz", "Whiskey Sour", "Pisco Sour",
    "Amaretto Sour", "Dark and Stormy", "Cuba Libre", "Tequila Sunrise",
    "Sea Breeze", "Bay Breeze", "Salty Dog", "Greyhound", "Screwdriver",
    "Harvey Wallbanger", "Rusty Nail", "Godfather", "Stinger", "Grasshopper",
    "Brandy Alexander", "Irish Coffee", "Hot Toddy", "Eggnog", "Sangria",
    "Spritz", "Hugo", "Rob Roy", "Vesper", "Corpse Reviver", "Last Word",
    "Clover Club", "Ramos Fizz", "Singapore Sling", "Planters Punch",
    "Blue Lagoon", "Sex on the Beach", "Woo Woo", "Kamikaze", "Lemon Drop",
    "Appletini", "Porn Star", "Hanky Panky", "Bees Knees", "Southside",
    "Penicillin", "Paper Plane", "Jungle Bird", "Painkiller", "Mudslide",
    "Grog", "Zaza", "Bronx", "Rose", "Derby", "Brooklyn", "Tuxedo", "Jack Rose",
    "Cherry Blossom", "Toblerone", "Quarterdeck", "Snowball", "Golden Dream",
    "Melon Ball", "Sloe Gin Fizz", "Smash", "Cobbler", "Flip"]
VARIANTS = ["Royale", "Special", "Cooler", "Twist", "Deluxe", "Frozen"]
CATEGORIES = ["Cocktail", "Ordinary Drink", "Punch / Party Drink", "Shot",
              "Coffee / Tea", "Homemade Liqueur"]
IBA = ["Unforgettables", "Contemporary Classics", "New Era Drinks"]


def _case_variant(rng, s):
    r = rng.random()
    if r < 0.12:
        return s.lower()
    if r < 0.18:
        return s.upper()
    if r < 0.30:
        return s.title()
    return s


def _ts(rng, year_lo=2013, year_hi=2017):
    t = dt.datetime(year_lo, 1, 1) + dt.timedelta(
        seconds=rng.randrange((year_hi - year_lo) * 365 * 86400))
    return t.strftime("%Y-%m-%d %H:%M:%S")


def catalog(rng):
    """API-shaped catalog entries plus the menu of sold drink names."""
    entries, next_id = [], 11000

    def add(name, glass, modified):
        nonlocal next_id
        drink_id, next_id = next_id, next_id + rng.randrange(1, 9)
        entries.append({
            "idDrink": str(drink_id), "strDrink": name,
            "strCategory": rng.choice(CATEGORIES),
            "strIBA": rng.choice(IBA) if rng.random() < 0.35 else None,
            "strAlcoholic": "Alcoholic" if rng.random() < 0.9 else "Non alcoholic",
            "strGlass": glass, "strInstructions": "mix well",
            "strDrinkThumb": f"https://example.invalid/{drink_id}.jpg",
            "dateModified": modified})

    for base in BASES:
        glass = rng.choice(GLASSES + [UNSTOCKED_GLASS])
        add(base, _case_variant(rng, glass), _ts(rng) if rng.random() > 0.08 else None)
    # fuzzy multi-match: "Margarita" also finds "Frozen Margarita" etc.
    variants = []
    for base in rng.sample(BASES, 70):
        v = rng.choice(VARIANTS)
        name = f"{v} {base}" if v == "Frozen" else f"{base} {v}"
        variants.append(name)
        add(name, _case_variant(rng, rng.choice(GLASSES)), _ts(rng))
    # duplicate 6-column keys with an older dateModified (keep-newest dedup)
    for e in rng.sample([e for e in entries if e["dateModified"]], 30):
        dup = dict(e)
        dup["dateModified"] = _ts(rng, 2009, 2012)
        dup["strInstructions"] = "older copy"
        entries.append(dup)
    # catalog-only drinks nobody orders
    for i in range(38):
        add(f"Unsold Classic {i}", rng.choice(GLASSES), _ts(rng))
    rng.shuffle(entries)
    # sold with no catalog match (NULL strGlass groups in poc_analysis)
    unmatched = [f"Bartender Choice {i}" for i in range(12)]
    menu = BASES + rng.sample(variants, 20) + unmatched
    return entries, menu, len(unmatched)


def bar_stock(rng):
    rows = []
    for bar in ("Budapest", "London", "New York"):
        for g in GLASSES:
            glass = _case_variant(rng, g)
            if bar == "London" and g == "Copper mug":
                glass = "coper mug"  # the reference's typo: joins nothing
            stock = rng.randrange(0, 60)
            val = f"{stock} glasses" if rng.random() < 0.05 else str(stock)
            rows.append(f"{glass},{val},{_case_variant(rng, bar)}")
    # the reference's own dirty value, always present
    i = rng.randrange(len(rows))
    g, _, b = rows[i].split(",")
    rows[i] = f"{g},34 glasses,{b}"
    return "glass_type,stock,bar\n" + "\n".join(rows) + "\n"


def _sales(rng, city, n, menu):
    """Sorted (seconds-from-START, line) pairs for one city feed."""
    weights = [1.0 / (i + 1) ** 0.8 for i in range(len(menu))]
    order = menu[:]
    rng.shuffle(order)
    price = {d: round(rng.uniform(2.99, 12.0), 1) for d in menu}
    span = DAYS * 86400
    secs = sorted(rng.randrange(span) for _ in range(n))
    if city == "new york":
        secs = [s - s % 60 for s in secs]
    drinks = rng.choices(order, weights=weights, k=n)
    out = []
    for i, (s, d) in enumerate(zip(secs, drinks)):
        t = START + dt.timedelta(seconds=s)
        name = _case_variant(rng, d)
        if city == "budapest":
            line = f"{i},{t:%Y-%m-%d %H:%M:%S},{name},{price[d]}"
        elif city == "london":
            line = f"{i}\t{t:%Y-%m-%d %H:%M:%S}\t{name}\t{price[d]}"
        else:
            line = f"{i},{t:%m-%d-%Y %H:%M},{name},{price[d]}"
        out.append((s, line))
    return out


HEADER = {"budapest": ",TS,ital,költség\n", "london": "",
          "new york": ",time,drink,amount\n"}


def _write_gz(path, header, lines):
    with gzip.open(path, "wt", encoding="utf-8", compresslevel=1) as f:
        f.write(header)
        if lines:
            f.write("\n".join(lines))
            f.write("\n")


def cocktail_inputs(out, seed, rows_per_city, layout):
    """Write one cocktails input set under `out`.

    layout: "full" (one file per city), "daily" (day-d/ dirs holding the
    cumulative extract up to the end of day d) or "stream" (the full files
    plus day-d/<city>/ dirs holding only day d's rows). Returns the
    manifest dict.
    """
    rng = random.Random(f"cocktails-{seed}")
    os.makedirs(out, exist_ok=True)
    entries, menu, n_unmatched = catalog(rng)
    with open(os.path.join(out, "cocktails_api.json"), "w") as f:
        json.dump(entries, f, indent=0)
    with open(os.path.join(out, "bar_stock.csv"), "w") as f:
        f.write(bar_stock(rng))
    with open(os.path.join(out, "last_update.txt"), "w") as f:
        f.write("".join(f"{k} {EPOCH}\n" for k in WM_KEY.values()))
    manifest = {"seed": seed, "layout": layout, "rows_per_city": rows_per_city,
                "catalog_entries": len(entries), "menu_drinks": len(menu),
                "unmatched_drinks": n_unmatched, "rows": {}, "maxima": {},
                "day_rows": {}, "day_maxima": []}
    per_city = {c: _sales(rng, c, rows_per_city, menu) for c in CITIES}
    for day in range(1, DAYS + 1):
        manifest["day_maxima"].append({})
    for c, rows in per_city.items():
        manifest["rows"][c] = len(rows)
        manifest["maxima"][WM_KEY[c]] = _fmt(rows[-1][0])
        cut = [0] * (DAYS + 1)
        for day in range(1, DAYS + 1):
            cut[day] = next((i for i, (s, _) in enumerate(rows) if s >= day * 86400),
                            len(rows))
            manifest["day_maxima"][day - 1][WM_KEY[c]] = _fmt(rows[cut[day] - 1][0])
        manifest["day_rows"][c] = [cut[d] - cut[d - 1] for d in range(1, DAYS + 1)]
        lines = [l for _, l in rows]
        if layout in ("full", "stream"):
            _write_gz(os.path.join(out, FEED_FILE[c]), HEADER[c], lines)
        for day in range(1, DAYS + 1):
            if layout == "daily":
                d = os.path.join(out, f"day-{day}")
                os.makedirs(d, exist_ok=True)
                _write_gz(os.path.join(d, FEED_FILE[c]), HEADER[c], lines[:cut[day]])
            elif layout == "stream":
                d = os.path.join(out, f"day-{day}", c.replace(" ", "_"))
                os.makedirs(d, exist_ok=True)
                _write_gz(os.path.join(d, f"day{day}.csv.gz"), HEADER[c],
                          lines[cut[day - 1]:cut[day]])
    manifest["total_rows"] = sum(manifest["rows"].values())
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def _fmt(sec):
    return (START + dt.timedelta(seconds=sec)).strftime("%Y-%m-%d %H:%M:%S")


WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()


def star_tables(out, seed, sf):
    """TPC-H-ish tables with the sf test data's schema, sized by `sf`."""
    import duckdb
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=1")
    s = int(seed) % 2147483647
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_ev = int(1500000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    words = "[" + ",".join(f"'{w}'" for w in WORDS) + "]"
    # u(k): a uniform [0,1) draw keyed on (row, k, seed) — order-free, so
    # the files do not depend on DuckDB's thread schedule
    def u(k, row="i"):
        return f"((hash({row}, {k}, {s}) % 1000003) / 1000003.0)"
    sql = {
        "region": "SELECT i::INTEGER AS r_regionkey, name AS r_name FROM (VALUES "
                  "(0,'AFRICA'),(1,'AMERICA'),(2,'ASIA'),(3,'EUROPE'),"
                  "(4,'MIDDLE EAST')) t(i, name)",
        "nation": "SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, "
                  "(i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)",
        "customer": f"SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') "
                    f"AS c_name, floor({u(1)} * 25)::INTEGER AS c_nationkey, "
                    f"round(-999.99 + {u(2)} * 10999.98, 2) AS c_acctbal, "
                    f"(['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'])"
                    f"[1 + floor({u(3)} * 5)::INTEGER] AS c_mktsegment FROM range({n_cust}) t(i)",
        "supplier": f"SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') "
                    f"AS s_name, floor({u(1)} * 25)::INTEGER AS s_nationkey, "
                    f"round(-999.99 + {u(2)} * 10999.98, 2) AS s_acctbal FROM range({n_supp}) t(i)",
        "part": f"SELECT i::BIGINT AS p_partkey, "
                f"(['blue','red','green','small','large','shiny','dark','light'])"
                f"[1 + floor({u(1)} * 8)::INTEGER] || ' ' || "
                f"(['anvil','widget','bolt','ring','gear','spring','nut','valve'])"
                f"[1 + floor({u(2)} * 8)::INTEGER] AS p_name, "
                f"'Brand#' || (1 + floor({u(3)} * 25)::INTEGER) AS p_brand, "
                f"(['ECONOMY','STANDARD','SMALL','MEDIUM','LARGE','PROMO'])"
                f"[1 + floor({u(4)} * 6)::INTEGER] AS p_type, "
                f"(1 + floor({u(5)} * 50))::INTEGER AS p_size, "
                f"round(900 + {u(6)} * 99.9, 1) AS p_retailprice FROM range({n_part}) t(i)",
        "orders": f"SELECT i::BIGINT AS o_orderkey, floor({u(1)} * {n_cust})::BIGINT AS o_custkey, "
                  f"(['F','O','P'])[1 + floor({u(2)} * 3)::INTEGER] AS o_orderstatus, "
                  f"round(1000 + {u(3)} * 499000, 2) AS o_totalprice, "
                  f"TIMESTAMP '1995-01-01' + to_days(floor({u(4)} * 2404)::INTEGER) AS o_orderdate, "
                  f"(['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'])"
                  f"[1 + floor({u(5)} * 5)::INTEGER] AS o_orderpriority FROM range({n_ord}) t(i)",
        "lineitem": f"SELECT o AS l_orderkey, floor({u(1, 'o*8+ln')} * {n_part})::BIGINT AS l_partkey, "
                    f"floor({u(2, 'o*8+ln')} * {n_supp})::BIGINT AS l_suppkey, "
                    f"ln::INTEGER AS l_linenumber, (1 + floor({u(3, 'o*8+ln')} * 50)) AS l_quantity, "
                    f"round(900 + {u(4, 'o*8+ln')} * 104000, 2) AS l_extendedprice, "
                    f"round(floor({u(5, 'o*8+ln')} * 11) / 100, 2) AS l_discount, "
                    f"round(floor({u(6, 'o*8+ln')} * 9) / 100, 2) AS l_tax, "
                    f"(['A','N','R'])[1 + floor({u(7, 'o*8+ln')} * 3)::INTEGER] AS l_returnflag, "
                    f"(['F','O'])[1 + floor({u(8, 'o*8+ln')} * 2)::INTEGER] AS l_linestatus, "
                    f"TIMESTAMP '1995-01-02' + to_days(floor({u(9, 'o*8+ln')} * 2498)::INTEGER) "
                    f"AS l_shipdate FROM range({n_ord}) a(o), range(1, 8) b(ln) "
                    f"WHERE ln <= 1 + floor({u(10, 'o')} * 7)",
        "events": f"SELECT i::BIGINT AS event_id, TIMESTAMP '2024-01-01' + "
                  f"to_microseconds(floor((i + {u(1)}) * 2592000000000 / {n_ev})::BIGINT) AS ts, "
                  f"floor({u(2)} * {max(150, n_ev // 67)})::BIGINT AS user_id, "
                  f"(['click','error','purchase','signup','view'])[1 + floor({u(3)} * 5)::INTEGER] "
                  f"AS event_type, round(0.01 + {u(4)} * 490, 2) AS value, "
                  f"'{{\"k\": ' || floor({u(5)} * 100)::INTEGER || '}}' AS props FROM range({n_ev}) t(i)",
        "documents": f"SELECT i::BIGINT AS doc_id, txt AS text, "
                     f"(['en','en','en','de','es','fr','zh'])[1 + floor({u(2)} * 7)::INTEGER] AS lang, "
                     f"'src' || floor({u(3)} * 20)::INTEGER AS source, length(txt)::BIGINT AS n_chars "
                     f"FROM (SELECT i, array_to_string(list_transform(range(8 + floor({u(1)} * 72)::INTEGER), "
                     f"w -> {words}[1 + (hash(CASE WHEN i % 50 = 7 THEN i - 1 ELSE i END, w, {s}) % 31)::INTEGER]), ' ') "
                     f"AS txt FROM range({n_doc}) t(i))",
        "embeddings": f"SELECT i::BIGINT AS vec_id, list_transform(range(64), x -> "
                      f"((hash(i, x, {s}) % 100003) / 100003.0 - 0.5)::FLOAT) AS embedding, "
                      f"floor({u(1)} * 10)::INTEGER AS label FROM range({n_emb}) t(i)",
    }
    counts = {}
    for name, q in sql.items():
        path = os.path.join(out, f"{name}.parquet")
        con.execute(f"COPY ({q}) TO '{path}' (FORMAT PARQUET)")
        counts[name] = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
    con.close()
    return counts
