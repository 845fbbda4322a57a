"""Seeded input generators for the benchmark's star-schema, document and
embedding tables.

Every value derives from (seed, row index) through DuckDB's deterministic
`hash`, or from `random.Random(seed)`, so one seed always yields the same
parquet files. The observation stream is generated inside the JVM harness
(`ObsGen.scala`) because its plain-Scala replay needs the records there.

Usage: python3 perfbench/datagen.py <outDir> <seed>
"""
import json
import os
import random
import sys

import duckdb

# Row counts of the generated star schema, corpus and embeddings: those of
# the repository's sf0.01 testdata (TESTDATA.md, the scale its DuckDB
# correctness gate runs at), with the same tables, columns, types and value
# ranges (FIXTURES.md section 3). The testdata itself lies outside the
# checkout the benchmark may read, so it is regenerated here from the seed.
STAR = {"customer": 1500, "orders": 15000, "lineitem": 60000,
        "events": 10000, "supplier": 100, "part": 2000}

# Document corpus for the curation step. The testdata corpus has no
# duplicates; these shares are the benchmark's own, large enough that both
# dedup stages find work in every job.
DOCS = 500
EXACT_DUP_SHARE = 0.10   # verbatim copies, up to case/whitespace
NEAR_DUP_SHARE = 0.10    # one token replaced in a copy (jaccard 0.88-0.93)
EMBEDDINGS = 500
EMBED_DIM = 64

VOCAB = [f"w{i:04d}" for i in range(3000)]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def u(seed, salt):
    """Uniform [0, 1) from row index `i`, the seed and a column salt."""
    return f"(hash(i, {seed}, '{salt}') % 1000000007) / 1000000007.0"


def star(con, out, seed):
    def copy(name, sql):
        con.sql(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")

    copy("region", "SELECT CAST(i AS INTEGER) AS r_regionkey, "
         f"list_extract({REGIONS!r}, i + 1) AS r_name FROM range(5) t(i)")
    copy("nation", "SELECT CAST(i AS INTEGER) AS n_nationkey, "
         f"list_extract({NATIONS!r}, i + 1) AS n_name, "
         "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)")
    copy("customer", f"""SELECT i + 1 AS c_custkey,
        'Customer#' || lpad(CAST(i + 1 AS VARCHAR), 9, '0') AS c_name,
        CAST(floor({u(seed, 'cn')} * 25) AS INTEGER) AS c_nationkey,
        round({u(seed, 'cb')} * 10999 - 999, 2) AS c_acctbal,
        list_extract(['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'],
          CAST(floor({u(seed, 'cs')} * 5) AS INTEGER) + 1) AS c_mktsegment
        FROM range({STAR['customer']}) t(i)""")
    copy("supplier", f"""SELECT i + 1 AS s_suppkey,
        'Supplier#' || lpad(CAST(i + 1 AS VARCHAR), 9, '0') AS s_name,
        CAST(floor({u(seed, 'sn')} * 25) AS INTEGER) AS s_nationkey,
        round({u(seed, 'sb')} * 10999 - 999, 2) AS s_acctbal
        FROM range({STAR['supplier']}) t(i)""")
    copy("part", f"""SELECT i + 1 AS p_partkey, 'part ' || CAST(i AS VARCHAR) AS p_name,
        'Brand#' || CAST(1 + floor({u(seed, 'pb')} * 25) AS VARCHAR) AS p_brand,
        'TYPE' || CAST(floor({u(seed, 'pt')} * 6) AS VARCHAR) AS p_type,
        CAST(1 + floor({u(seed, 'ps')} * 50) AS INTEGER) AS p_size,
        round(900 + {u(seed, 'pr')} * 99.9, 2) AS p_retailprice
        FROM range({STAR['part']}) t(i)""")
    # orders span 1995-01-01 .. 2001-08-01 like the testdata layout
    copy("orders", f"""SELECT i + 1 AS o_orderkey,
        CAST(1 + floor({u(seed, 'oc')} * {STAR['customer']}) AS BIGINT) AS o_custkey,
        list_extract(['F','O','P'], CAST(floor({u(seed, 'os')} * 3) AS INTEGER) + 1) AS o_orderstatus,
        round(1000 + {u(seed, 'op')} * 499000, 2) AS o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(CAST(floor({u(seed, 'od')} * 2404) AS INTEGER)) AS o_orderdate,
        list_extract(['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'],
          CAST(floor({u(seed, 'oo')} * 5) AS INTEGER) + 1) AS o_orderpriority
        FROM range({STAR['orders']}) t(i)""")
    per = STAR["lineitem"] // STAR["orders"]
    copy("lineitem", f"""SELECT CAST(i // {per} + 1 AS BIGINT) AS l_orderkey,
        CAST(1 + floor({u(seed, 'lp')} * {STAR['part']}) AS BIGINT) AS l_partkey,
        CAST(1 + floor({u(seed, 'ls')} * {STAR['supplier']}) AS BIGINT) AS l_suppkey,
        CAST(i % {per} + 1 AS INTEGER) AS l_linenumber,
        CAST(1 + floor({u(seed, 'lq')} * 50) AS DOUBLE) AS l_quantity,
        round(900 + {u(seed, 'le')} * 100000, 2) AS l_extendedprice,
        round(floor({u(seed, 'ld')} * 11) / 100, 2) AS l_discount,
        round(floor({u(seed, 'lt')} * 9) / 100, 2) AS l_tax,
        list_extract(['A','N','R'], CAST(floor({u(seed, 'lr')} * 3) AS INTEGER) + 1) AS l_returnflag,
        list_extract(['F','O'], CAST(floor({u(seed, 'll')} * 2) AS INTEGER) + 1) AS l_linestatus,
        TIMESTAMP '1995-01-01' + to_days(CAST(floor({u(seed, 'lsd')} * 2500) AS INTEGER)) AS l_shipdate
        FROM range({STAR['lineitem']}) t(i)""")
    copy("events", f"""SELECT i AS event_id,
        TIMESTAMP '2024-01-01' + to_microseconds(CAST(floor({u(seed, 'et')} * 30 * 86400e6) AS BIGINT)) AS ts,
        CAST(floor({u(seed, 'eu')} * 150) AS BIGINT) AS user_id,
        list_extract(['view','click','purchase','signup','error'],
          CAST(floor({u(seed, 'ee')} * 5) AS INTEGER) + 1) AS event_type,
        round(0.01 + {u(seed, 'ev')} * 490, 2) AS value,
        '{{"k": ' || CAST(CAST(floor({u(seed, 'ek')} * 100) AS BIGINT) AS VARCHAR) || '}}' AS props
        FROM range({STAR['events']}) t(i)""")


def documents(con, out, seed):
    rng = random.Random(seed)
    rows = []
    originals = []   # texts no near-dup was made from yet
    for doc_id in range(DOCS):
        r = rng.random()
        if rows and r < EXACT_DUP_SHARE:
            # same text up to case and whitespace: one prefix fingerprint
            text = rng.choice(rows)["text"].upper().replace(" ", "  ", 1)
        elif originals and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            # One edit of a fresh original, inside its first 80 characters,
            # so the copy keeps its own prefix fingerprint and only MinHash
            # can catch it. Each original gets at most one such copy: two
            # copies of one text, or a copy of a copy, would sit near the
            # 0.8 jaccard threshold, where banded LSH may miss by design.
            toks = originals.pop(rng.randrange(len(originals))).split()
            pos = rng.randrange(3, 10)
            toks[pos] = "edit" + str(doc_id)
            text = " ".join(toks)
        else:
            n = rng.randint(40, 70)   # about 300 characters, as in the testdata
            # skewed word frequencies, as in natural text
            text = " ".join(VOCAB[int(len(VOCAB) * rng.random() ** 2)]
                            for _ in range(n))
            originals.append(text)
        rows.append({"doc_id": doc_id, "text": text,
                     "lang": rng.choice(["en", "fi", "de", "zh"]),
                     "source": f"src{rng.randrange(4)}", "n_chars": len(text)})
    path = f"{out}/documents.jsonl"
    with open(path, "w") as f:
        for row in rows:
            f.write(json.dumps(row) + "\n")
    con.sql(f"""COPY (SELECT CAST(doc_id AS BIGINT) AS doc_id, text, lang, source,
        CAST(n_chars AS BIGINT) AS n_chars
        FROM read_json('{path}', format='newline_delimited',
          columns={{doc_id:'BIGINT', text:'VARCHAR', lang:'VARCHAR',
                   source:'VARCHAR', n_chars:'BIGINT'}}) ORDER BY doc_id)
        TO '{out}/documents.parquet' (FORMAT PARQUET)""")
    os.remove(path)


def embeddings(con, out, seed):
    con.sql(f"""COPY (SELECT i AS vec_id,
        list_transform(range({EMBED_DIM}), d ->
          CAST(round(((hash(i // 4, d, {seed}, 'ec') % 2000003) / 2000003.0 - 0.5)
                     + 0.2 * ((hash(i, d, {seed}, 'en') % 2000003) / 2000003.0 - 0.5), 6)
               AS FLOAT)) AS embedding,
        CAST(hash(i // 4, {seed}, 'el') % 10 AS INTEGER) AS label
        FROM range({EMBEDDINGS}) t(i) ORDER BY i)
        TO '{out}/embeddings.parquet' (FORMAT PARQUET)""")


def generate(out, seed):
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.sql("SET threads TO 1")
    star(con, out, seed)
    documents(con, out, seed)
    embeddings(con, out, seed)
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
