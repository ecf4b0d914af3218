"""Output checks for the perfbench workloads, run after the timed ops.

Every check reads what the program wrote (parquet warehouses, the
watermark file, query results) with DuckDB and compares it with the
generator's manifest or with an independent DuckDB replica of the same
computation. A check returns a list of problems; empty means it passed.
"""
import os

import duckdb

POC_LINE = ("concat_ws('|', CAST(dayOfSale AS VARCHAR), drink, CAST(price AS VARCHAR), bar, "
            "coalesce(strGlass, '\\N'), CAST(drinkCount AS VARCHAR), "
            "coalesce(CAST(stock AS VARCHAR), '\\N'), coalesce(comment, '\\N'))")


def _digest(con, relation):
    """Order-insensitive digest and row count of a poc_analysis-shaped relation."""
    return con.execute(f"SELECT md5(coalesce(string_agg(line, chr(10) ORDER BY line), '')), count(*) "
                       f"FROM (SELECT {POC_LINE} AS line FROM {relation})").fetchone()


def poc_replica(inputs, feed_dir, dims_out=None):
    """poc_analysis recomputed in DuckDB straight from the raw files: the
    three feed formats, watermark-free full load, fuzzy catalog search,
    keep-newest dedup, lowercasing and the poc query's CASE without ELSE.
    Returns (digest, rows). With `dims_out`, also writes the cocktails and
    stock dimensions there as parquet."""
    con = duckdb.connect()
    cols = "{'idx': 'BIGINT', 'ts': 'VARCHAR', 'drink': 'VARCHAR', 'price': 'DOUBLE'}"
    feeds = [("budapest.csv.gz", "true", ",", "%Y-%m-%d %H:%M:%S", "budapest"),
             ("london_transactions.csv.gz", "false", "\\t", "%Y-%m-%d %H:%M:%S", "london"),
             ("ny.csv.gz", "true", ",", "%m-%d-%Y %H:%M", "new york")]
    union = " UNION ALL ".join(
        f"SELECT strptime(ts, '{fmt}') AS dateOfSale, drink, price, '{bar}' AS bar "
        f"FROM read_csv('{os.path.join(feed_dir, f)}', header={hdr}, delim='{sep}', "
        f"columns={cols}, auto_detect=false)" for f, hdr, sep, fmt, bar in feeds)
    con.execute(f"CREATE TABLE sales AS SELECT dateOfSale, lower(drink) AS drink, price, bar "
                f"FROM ({union}) WHERE dateOfSale > TIMESTAMP '1900-01-01 00:00:00'")
    con.execute(f"""
        CREATE TABLE ck AS
        WITH cat AS (SELECT * FROM read_json('{os.path.join(inputs, "cocktails_api.json")}',
                       format='array', columns={{'idDrink': 'VARCHAR', 'strDrink': 'VARCHAR',
                       'strCategory': 'VARCHAR', 'strIBA': 'VARCHAR', 'strAlcoholic': 'VARCHAR',
                       'strGlass': 'VARCHAR', 'dateModified': 'VARCHAR'}})),
        terms AS (SELECT DISTINCT drink AS term FROM sales),
        proj AS (SELECT DISTINCT CAST(idDrink AS INTEGER) AS idDrink, strDrink, strCategory,
                   strIBA, strAlcoholic, strGlass,
                   strptime(dateModified, '%Y-%m-%d %H:%M:%S') AS dateModified
                 FROM cat JOIN terms ON contains(lower(cat.strDrink), terms.term)),
        newest AS (SELECT *, row_number() OVER (
                     PARTITION BY idDrink, strDrink, strCategory, strIBA, strAlcoholic, strGlass
                     ORDER BY dateModified DESC NULLS LAST, idDrink DESC) AS rn FROM proj)
        SELECT lower(strDrink) AS strDrink, lower(strGlass) AS strGlass FROM newest WHERE rn = 1""")
    con.execute(f"""
        CREATE TABLE stock AS
        SELECT lower(glass_type) AS glassType, lower(bar) AS bar,
               CAST(nullif(regexp_extract(stock, '(\\d+)', 1), '') AS INTEGER) AS stock
        FROM read_csv('{os.path.join(inputs, "bar_stock.csv")}', header=true,
                      columns={{'glass_type': 'VARCHAR', 'stock': 'VARCHAR', 'bar': 'VARCHAR'}},
                      auto_detect=false)""")
    con.execute("""
        CREATE TABLE poc AS
        WITH g AS (SELECT CAST(s.dateOfSale AS DATE) AS dayOfSale, s.drink, s.price, s.bar,
                          d.strGlass, count(s.drink) AS drinkCount
                   FROM sales s LEFT JOIN ck d ON s.drink = d.strDrink GROUP BY ALL)
        SELECT g.*, st.stock,
               CASE WHEN g.drinkCount < st.stock THEN 'NO ISSUE'
                    WHEN g.drinkCount >= st.stock THEN 'POTENTIAL ISSUE' END AS comment
        FROM g LEFT JOIN stock st ON g.strGlass = st.glassType AND g.bar = st.bar""")
    if dims_out:
        os.makedirs(dims_out, exist_ok=True)
        for t, name in (("ck", "cocktails"), ("stock", "bar_stock")):
            con.execute(f"COPY {t} TO '{os.path.join(dims_out, name)}.parquet' (FORMAT PARQUET)")
    out = _digest(con, "poc")
    con.close()
    return out


def digest_of(parquet_dir):
    con = duckdb.connect()
    out = _digest(con, _pq(parquet_dir))
    con.close()
    return out


def _pq(path):
    return f"read_parquet('{path}/*.parquet')"


def warehouse(manifest, warehouse_dir, watermark_file, replica):
    """The stored tables after a full load (or after the last daily load)."""
    problems = []
    con = duckdb.connect()
    n, n_ids, lo, hi = con.execute(
        f"SELECT count(*), count(DISTINCT saleID), min(saleID), max(saleID) "
        f"FROM {_pq(os.path.join(warehouse_dir, 'global_sales'))}").fetchone()
    total = manifest["total_rows"]
    if n != total:
        problems.append(f"global_sales has {n} rows, generated {total}")
    if not (n_ids == n and lo == 0 and hi == n - 1):
        problems.append(f"saleID not unique and contiguous from 0 ({n_ids} ids in [{lo}, {hi}])")
    poc = _pq(os.path.join(warehouse_dir, "poc_analysis"))
    drinks = con.execute(f"SELECT sum(drinkCount) FROM {poc}").fetchone()[0]
    if drinks != total:
        problems.append(f"sum(drinkCount) = {drinks}, generated {total} sales")
    digest = _digest(con, poc)
    if digest != replica:
        problems.append(f"poc_analysis digest/rows {digest} != replica {replica}")
    con.close()
    with open(watermark_file) as f:
        wm = dict(line.strip().split(" ", 1) for line in f if line.strip())
    if wm != manifest["maxima"]:
        problems.append(f"watermarks {wm} != generated maxima {manifest['maxima']}")
    return problems


def warehouse_figures(warehouse_dir):
    """Exact stored-size and enrichment figures of a warehouse."""
    con = duckdb.connect()
    size = sum(os.path.getsize(os.path.join(d, f))
               for t in ("global_sales", "bar_stock", "cocktails", "poc_analysis")
               for d, _, fs in os.walk(os.path.join(warehouse_dir, t))
               for f in fs if f.endswith(".parquet"))
    sales = con.execute(f"SELECT count(*) FROM {_pq(os.path.join(warehouse_dir, 'global_sales'))}").fetchone()[0]
    terms, hits = con.execute(
        f"WITH t AS (SELECT DISTINCT drink FROM {_pq(os.path.join(warehouse_dir, 'global_sales'))}) "
        f"SELECT count(*), count(*) FILTER (WHERE EXISTS (SELECT 1 FROM "
        f"{_pq(os.path.join(warehouse_dir, 'cocktails'))} c WHERE contains(c.strDrink, t.drink))) "
        f"FROM t").fetchone()
    con.close()
    return {"stored_bytes_per_sale": size / sales, "match_ratio": hits / terms}


TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _canon_cells(df):
    """check_oracle.py's comparison form: columns by name, rows sorted,
    floats at 9 significant digits, one string per row."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    out = []
    for row in df.itertuples(index=False):
        out.append("\x01".join(f"{v:.9g}" if isinstance(v, float) else str(v) for v in row))
    return out


def queries(sf_dir, results_dir, oracle_sql, names):
    """Each query's written result against its DuckDB oracle SQL on the
    same generated tables. Returns ({query: problem or None}, {query: rows
    written})."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    verdict, written = {}, {}
    for q in names:
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{results_dir}/{q}/*.parquet')").df()
            written[q] = len(got)
            if q not in oracle_sql:
                verdict[q] = None if len(got) > 0 else "no rows and no oracle"
                continue
            exp = con.execute(oracle_sql[q]).df()
            if sorted(got.columns) != sorted(exp.columns):
                verdict[q] = f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
            elif _canon_cells(got) != _canon_cells(exp):
                verdict[q] = f"{len(got)} rows differ from oracle's {len(exp)}"
            else:
                verdict[q] = None
        except Exception as e:  # a crashing check is a failed check
            verdict[q] = f"{type(e).__name__}: {e}"[:300]
    con.close()
    return verdict, written
