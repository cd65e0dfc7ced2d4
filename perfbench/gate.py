"""Correctness gates, run after the timed phase and never timed. Each takes
the gate facts the JVM wrote and returns a dict with `ok`, `detail`, the
rows each op delivered (`delivered`, by op id) and workload extras."""
import glob
import os

import duckdb


def _files(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))


def _scan(d):
    files = _files(d)
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


FLAGSHIP_COLS = ("ulch_sq_autorizacao, ulch_sq_produto, xxxx_dh_cad, dt_venda, filial, cod_prod, "
                 "ulch_lote, ulch_dt_vencimento, etiqueta, perc_dsc_cupom, venda, venda_desconto, "
                 "ulch_preco_venda, ulch_percentual_desconto, ulch_fl_tipo_produto")


def _flagship_sql(cosmos, pre_venda, aut, pro):
    """The daily flagship view in DuckDB: both POS feeds canonicalized and
    unioned, the top-discount sale per label (total order), finalized
    authorizations one per barcode (lowest id), the latest registration
    per product, joined."""
    return f"""
WITH canon AS (
  SELECT MVVC_CD_FILIAL_MOV AS filial, MVVP_NR_PRD AS cod_prod, MVVC_DT_MOV AS periodo,
         lpad(trim(NUMERO_AUTORIZ_PAGUEMENOS), 30, '0') AS etiqueta, MVVP_PR_DSC_ITE AS perc_dsc_cupom,
         MVVP_VL_PRE_VDA AS venda, MVVP_VL_PRD_VEN AS venda_desconto FROM {cosmos}
  UNION ALL
  SELECT VC_CD_FILIAL, VD_CD_PRODUTO, VC_DH_VENDA, lpad(trim(VD_COD_ETIQUETA_ULCH), 30, '0'),
         VD_PERC_DESCONTO, VD_VL_PRODUTO, VD_VL_PRODUTO_COM_DESCONTO FROM {pre_venda}),
cupom AS (
  SELECT * FROM (SELECT c.*, row_number() OVER (PARTITION BY etiqueta ORDER BY
    venda_desconto DESC NULLS LAST, venda DESC NULLS LAST, periodo DESC NULLS LAST,
    filial ASC NULLS FIRST, cod_prod ASC NULLS FIRST, perc_dsc_cupom ASC NULLS FIRST) AS rn
    FROM canon c) WHERE rn = 1),
aut AS (
  SELECT * FROM (SELECT a.*, row_number() OVER (PARTITION BY ulch_cd_barras ORDER BY ulch_sq_autorizacao ASC NULLS FIRST) AS rn
    FROM (SELECT ulch_sq_autorizacao, ulch_preco_venda, coalesce(ulch_percentual_desconto, 0) AS ulch_percentual_desconto,
                 ulch_fl_tipo_produto, lpad(trim(ulch_cd_barras), 30, '0') AS ulch_cd_barras, ulch_sq_produto
          FROM {aut} WHERE ulch_fl_situacao = 'F') a) WHERE rn = 1),
pro AS (
  SELECT * FROM (SELECT p.*, row_number() OVER (PARTITION BY ulch_sq_produto ORDER BY
    xxxx_dh_cad DESC NULLS LAST, ulch_lote DESC NULLS LAST, ulch_dt_vencimento DESC NULLS LAST) AS rn
    FROM (SELECT ulch_sq_produto, xxxx_dh_cad, upper(trim(ulch_lote)) AS ulch_lote, ulch_dt_vencimento FROM {pro}) p)
  WHERE rn = 1)
SELECT aut.ulch_sq_autorizacao, pro.ulch_sq_produto, pro.xxxx_dh_cad, cupom.periodo AS dt_venda, cupom.filial,
       cupom.cod_prod, pro.ulch_lote, pro.ulch_dt_vencimento, cupom.etiqueta, cupom.perc_dsc_cupom, cupom.venda,
       cupom.venda_desconto, aut.ulch_preco_venda, aut.ulch_percentual_desconto, aut.ulch_fl_tipo_produto
FROM cupom JOIN aut ON cupom.etiqueta = aut.ulch_cd_barras JOIN pro ON aut.ulch_sq_produto = pro.ulch_sq_produto"""


def _day_files(bucket, system, day):
    y, m, d = day.split("-")
    return _files(os.path.join(bucket, system, y, m, f"{d}.parquet"))


def _window(bucket, system, start, end):
    import datetime
    s, e = datetime.date.fromisoformat(start), datetime.date.fromisoformat(end)
    files = []
    while s <= e:
        files += _day_files(bucket, system, s.isoformat())
        s += datetime.timedelta(days=1)
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def daily_merge(raw):
    """The final sink equals the history with every day's flagship merged
    in order, latest run winning per label."""
    g = raw["gate"]
    con = duckdb.connect()
    con.execute(f"CREATE TABLE state AS SELECT {FLAGSHIP_COLS} FROM {_scan(g['history'])}")
    per_day = []
    for d in g["days"]:
        inc = _flagship_sql(_window(g["bucket"], "cosmos", d["start"], d["end"]),
                            _window(g["bucket"], "pre_venda", d["start"], d["end"]),
                            _scan(g["autorizacao"]), _scan(g["produto"]))
        con.execute(f"CREATE OR REPLACE TABLE inc AS {inc}")
        per_day.append(con.execute("SELECT count(*) FROM inc").fetchone()[0])
        con.execute("CREATE OR REPLACE TABLE state AS SELECT * FROM state "
                    "WHERE etiqueta NOT IN (SELECT etiqueta FROM inc) UNION ALL SELECT * FROM inc")
    sink = f"SELECT {FLAGSHIP_COLS} FROM {_scan(g['sink'])}"
    extra = con.execute(f"SELECT count(*) FROM ({sink} EXCEPT ALL SELECT * FROM state)").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM (SELECT * FROM state EXCEPT ALL {sink})").fetchone()[0]
    rows = con.execute("SELECT count(*) FROM state").fetchone()[0]
    ok = extra == 0 and missing == 0 and rows > 0
    n = len(g["days"])
    delivered = {o["id"]: per_day[o["idx"]] for o in raw["ops"] if o["id"] >= 0}
    return {"ok": ok, "delivered": delivered,
            "detail": f"{rows} expected rows; sink has {extra} unexpected, lacks {missing}; "
                      f"daily increments {per_day[:n]}"}


def poisson_cap(lam, tail=1e-6):
    """The smallest count c with P(X > c) < `tail` for X ~ Poisson(lam)."""
    import math
    c, p = 0, math.exp(-lam)
    cdf = p
    while 1.0 - cdf >= tail:
        c += 1
        p *= lam / c
        cdf += p
    return c


def stream_ingest(raw):
    """The head holds exactly one row per distinct text sent (a text is one
    fingerprint pair), and that row is a copy from the text's first
    arrival. The store's admission keys on the single `fingerprint`
    (modulus about 2^30), so a new text whose `fingerprint` equals a text
    admitted before it is dropped as a duplicate. Such an absence is
    accepted only if the colliding head row arrived no later than the
    missing text, and only up to the count a uniform fingerprint makes
    likely at these store and batch sizes: the Poisson quantile at 1e-6 of
    the birthday expectation. A narrower key or any other absence fails."""
    g = raw["gate"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW sent AS SELECT * FROM {_scan(g['sent'])}")
    con.execute(f"CREATE TABLE head AS SELECT h.*, s.trigger FROM {_scan(g['head'])} h "
                "LEFT JOIN sent s USING (doc_id)")
    con.execute("CREATE TABLE firsts AS SELECT text, min(trigger) AS t, any_value(fingerprint) AS fp "
                "FROM sent GROUP BY text")
    q = lambda sql: con.execute(sql).fetchone()[0]
    foreign = q("SELECT count(*) FROM head h LEFT JOIN sent s ON h.doc_id = s.doc_id "
                "WHERE s.doc_id IS NULL OR s.text <> h.text")
    dup_ids = q("SELECT count(*) - count(DISTINCT doc_id) FROM head")
    dup_texts = q("SELECT count(*) FROM (SELECT text FROM head GROUP BY text HAVING count(*) > 1)")
    late = q("SELECT count(*) FROM head h JOIN firsts f ON f.text = h.text WHERE h.trigger <> f.t")
    con.execute("CREATE TABLE missing AS SELECT f.* FROM firsts f ANTI JOIN head h ON h.text = f.text")
    missing = q("SELECT count(*) FROM missing")
    collisions = q("SELECT count(DISTINCT m.text) FROM missing m JOIN head h ON h.fingerprint = m.fp "
                   "AND h.text <> m.text AND h.trigger <= m.t")
    # Birthday expectation: each new text of trigger t meets the texts the
    # head admitted before t and the other new texts of its batch.
    new = dict(con.execute("SELECT t, count(*) FROM firsts WHERE t >= 0 GROUP BY t").fetchall())
    modulus = float(g["fingerprint_modulus"])
    lam = sum(n * (q(f"SELECT count(*) FROM head WHERE trigger < {t}") + n / 2) / modulus
              for t, n in new.items())
    cap = poisson_cap(lam)
    admitted = dict(con.execute("SELECT trigger, count(*) FROM head GROUP BY 1").fetchall())
    # Every pass sends the same triggers; op i of a pass is trigger i.
    delivered = {o["id"]: admitted.get(o["idx"], 0) for o in raw["ops"] if o["id"] >= 0}
    ok = (foreign == 0 and dup_ids == 0 and dup_texts == 0 and late == 0 and missing == collisions
          and collisions <= cap)
    return {"ok": ok, "delivered": delivered, "collisions": collisions,
            "detail": f"{q('SELECT count(*) FROM head')} head rows, {q('SELECT count(*) FROM firsts')} "
                      f"distinct texts sent; foreign {foreign}, duplicate ids {dup_ids}, duplicate "
                      f"texts {dup_texts}, not first arrival {late}, missing {missing} of which "
                      f"{collisions} fingerprint collisions (expected {lam:.2f}, at most {cap})"}


def _canon(table):
    import pandas as pd
    df = table.to_pandas()
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if hasattr(v, "__len__") and not isinstance(v, str) else v)
        elif pd.api.types.is_integer_dtype(df[c].dtype):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c].dtype):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def operator_mix(raw):
    """Each registry row's result equals its DuckDB oracle as a row
    multiset (columns by name, rows sorted)."""
    import pyarrow.parquet as pq
    g = raw["gate"]
    con = duckdb.connect()
    for t in ("documents", "embeddings", "lineitem", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_scan(os.path.join(g['sf'], t + '.parquet'))}")
    bad = []
    for r in g["rows"]:
        spark = _canon(pq.read_table(r["result"]))
        duck = _canon(con.execute(r["oracle_sql"]).arrow())
        same = list(spark.columns) == list(duck.columns) and len(spark) == len(duck) and all(
            ((spark[c].isna() & duck[c].isna()) | (spark[c] == duck[c])).all() for c in spark.columns)
        if not same:
            bad.append(f"{r['name']} (spark {len(spark)} rows, oracle {len(duck)})")
    failed = {r for r in (b.split(" ")[0] for b in bad)}
    return {"ok": not bad, "delivered": {}, "failed_rows": failed,
            "detail": "all rows match their oracle" if not bad else "mismatch: " + ", ".join(bad)}


GATES = {"daily_merge": daily_merge, "stream_ingest": stream_ingest, "operator_mix": operator_mix}
