"""Seeded inputs for every workload, written with DuckDB.

Every value is a hash of (row id, seed, column salt), so the same seed gives
byte-identical files whatever DuckDB's thread count, and no value depends on
graft code. Collections are employees-shaped (the reference's only schema);
the batch tables have the schemas of the test tables (TESTDATA.md) that the
declared queries read.
"""
import os

import duckdb

DEPARTMENTS = ["engineering", "Engineering", "Platform Engineering", "marketing",
               "Marketing", "sales", "Sales", "hr", "finance", "legal"]
POSITIONS = ["analyst", "manager", "developer", "designer", "lead", "intern",
             "director", "consultant"]
LOCATIONS = ["Berlin", "Lagos", "Lima", "Osaka", "Toronto", "Pune", "Oslo",
             "Austin", "Cairo", "Sydney"]
FIRST = ["Ada", "Bo", "Cyd", "Dee", "Eli", "Fay", "Gus", "Ida", "Jo", "Kai",
         "Lu", "Mo", "Ned", "Ola", "Pim", "Quy"]

COLUMNS = ["emp_id", "name", "age", "department", "position", "salary",
           "experience_years", "location", "joining_date"]

# batch tables: word vocabulary of the test documents table, including
# every term the declared retrieval queries ask for
VOCAB = ("data query join spark table scan stream window key agg row slow fast "
         "value part hash a the batch order column small line customer filter "
         "sort merge big group vector").split()
LANGS = ["en", "en", "en", "en", "fr", "es", "zh", "de"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def _lst(xs):
    return "[" + ", ".join(f"'{x}'" for x in xs) + "]"


def _h(seed, salt, key="i"):
    return f"hash({key}, {int(seed)}, {int(salt)})"


def connect():
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    return con


def employees_sql(n, id0, seed, salt):
    """n employees with ids id0.., salt separating files of one seed."""
    h = lambda k: _h(seed, salt * 100 + k)
    return f"""
    SELECT CAST(i AS BIGINT) AS emp_id,
      {_lst(FIRST)}[1 + CAST({h(1)} % {len(FIRST)} AS INT)] || ' ' ||
        printf('%08d', i) AS name,
      CAST(22 + {h(2)} % 44 AS DOUBLE) AS age,
      {_lst(DEPARTMENTS)}[1 + CAST({h(3)} % {len(DEPARTMENTS)} AS INT)] AS department,
      {_lst(POSITIONS)}[1 + CAST({h(4)} % {len(POSITIONS)} AS INT)] AS position,
      CAST(30000 + {h(5)} % 120001 AS DOUBLE) AS salary,
      CAST({h(6)} % 40 AS DOUBLE) AS experience_years,
      {_lst(LOCATIONS)}[1 + CAST({h(7)} % {len(LOCATIONS)} AS INT)] AS location,
      strftime(DATE '2000-01-01' + CAST({h(8)} % 9000 AS INT), '%Y-%m-%d')
        AS joining_date
    FROM range({int(id0)}, {int(id0) + int(n)}) t(i)"""


def write(con, sql, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    con.sql(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE 131072)")
    return path


def collection(con, path, files, rows_per_file, seed, salt0, id0=0):
    """A directory-backed parquet collection of `files` part files."""
    os.makedirs(path, exist_ok=True)
    out = []
    for f in range(files):
        p = os.path.join(path, f"part-{f:06d}.parquet")
        write(con, employees_sql(rows_per_file, id0 + f * rows_per_file, seed,
                                 salt0 + f), p)
        out.append(p)
    return out


def batch_tables(con, d, seed, customers, documents, vectors, events, users):
    """customer / documents / embeddings / events with the test tables'
    schemas, sized by the arguments."""
    os.makedirs(d, exist_ok=True)
    h = lambda k, key="i": _h(seed, 900 + k, key)
    write(con, f"""
      SELECT CAST(i AS BIGINT) AS c_custkey,
        printf('Customer#%09d', i) AS c_name,
        CAST({h(1)} % 25 AS INT) AS c_nationkey,
        CAST(CAST({h(2)} % 1099999 AS BIGINT) - 99999 AS DOUBLE) / 100 AS c_acctbal,
        ['MACHINERY','AUTOMOBILE','BUILDING','HOUSEHOLD','FURNITURE']
          [1 + CAST({h(3)} % 5 AS INT)] AS c_mktsegment
      FROM range({customers}) t(i)""", f"{d}/customer.parquet")
    write(con, f"""
      SELECT CAST(i AS BIGINT) AS doc_id, text,
        {_lst(LANGS)}[1 + CAST({h(4)} % {len(LANGS)} AS INT)] AS lang,
        'src' || CAST(i % 20 AS VARCHAR) AS source,
        CAST(length(text) AS BIGINT) AS n_chars
      FROM (SELECT i, array_to_string(list_transform(
              range(8 + CAST({h(5)} % 80 AS INT)),
              j -> {_lst(VOCAB)}[1 + CAST(hash(i, j, {int(seed)}, 906) % {len(VOCAB)} AS INT)]),
              ' ') AS text
            FROM range({documents}) t(i))""", f"{d}/documents.parquet")
    write(con, f"""
      SELECT CAST(i AS BIGINT) AS vec_id,
        CAST(list_transform(range(64), j ->
          (CAST(hash(i, j, {int(seed)}, 907) % 2001 AS DOUBLE) / 1000 - 1.0) * 0.1
          + CASE WHEN j % 10 = lbl THEN 0.3 ELSE 0.0 END) AS FLOAT[]) AS embedding,
        CAST(lbl AS INT) AS label
      FROM (SELECT i, CAST({h(8)} % 10 AS INT) AS lbl FROM range({vectors}) t(i))""",
          f"{d}/embeddings.parquet")
    write(con, f"""
      SELECT CAST(i AS BIGINT) AS event_id,
        TIMESTAMP '2024-01-01' + to_microseconds(CAST(
          i * {int(30 * 86400 * 1e6 // max(events, 1))} + {h(9)} % 1000000 AS BIGINT)) AS ts,
        CAST({h(10)} % {users} AS BIGINT) AS user_id,
        {_lst(EVENT_TYPES)}[1 + CAST({h(11)} % 5 AS INT)] AS event_type,
        CAST({h(12)} % 50000 AS DOUBLE) / 100 AS value,
        '{{"k": ' || CAST({h(13)} % 100 AS VARCHAR) || '}}' AS props
      FROM range({events}) t(i)""", f"{d}/events.parquet")
