"""Independent DuckDB oracles for the benchmark's output checks.

Both are computed once per input fingerprint and cached beside the
inputs; checking never runs inside a timed region.
"""
import re

import duckdb


def _connect(threads):
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET preserve_insertion_order = false")
    return con


def _read_corpus(con, path):
    # one `<doc_id> <text>` line per document; the split is on the first space
    con.execute(f"""
        CREATE TABLE docs AS
        SELECT split_part(line, ' ', 1) AS doc_id,
               CASE WHEN strpos(line, ' ') > 0
                    THEN substr(line, strpos(line, ' ') + 1) ELSE '' END AS text
        FROM read_csv('{path}', columns = {{'line': 'VARCHAR'}}, header = false,
                      delim = '\x01', quote = '', escape = '', auto_detect = false)""")


def related_terms(corpus_path, queries, k=5, threads=4):
    """Top-k TF-IDF cosine neighbours of every query term, with the
    engine's semantics (tf = cnt / doc_total, idf = log10(m / df), m =
    corpus lines, query excluded, sim == 0 dropped, two-step division,
    9-digit rounding, ties by term), plus the tf rows of each query's
    co-occurring terms. Returns ({q: [[term, sim], ...]}, {q: rows})."""
    con = _connect(threads)
    _read_corpus(con, corpus_path)
    con.execute("CREATE TABLE q(term VARCHAR)")
    con.executemany("INSERT INTO q VALUES (?)", [[t] for t in queries])
    con.execute("""
        CREATE TABLE tf AS
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM docs),
        cnt AS (SELECT doc_id, term, count(*) AS cnt FROM toks WHERE term <> ''
                GROUP BY doc_id, term),
        tot AS (SELECT doc_id, sum(cnt) AS doc_total FROM cnt GROUP BY doc_id),
        df AS (SELECT term, count(*) AS df FROM cnt GROUP BY term),
        m AS (SELECT count(*)::DOUBLE AS m FROM docs)
        SELECT c.doc_id, c.term, d.df,
               (c.cnt::DOUBLE / t.doc_total::DOUBLE) * log10(m.m / d.df::DOUBLE) AS tfidf
        FROM cnt c JOIN tot t USING (doc_id) JOIN df d USING (term), m""")
    rows = con.execute(f"""
        WITH qv AS (SELECT tf.term AS qterm, doc_id, tfidf AS v1
                    FROM tf JOIN q ON tf.term = q.term),
        den1 AS (SELECT qterm, sqrt(sum(v1 * v1)) AS den1 FROM qv GROUP BY qterm),
        num AS (SELECT qv.qterm, tf.term, sum(qv.v1 * tf.tfidf) AS num
                FROM qv JOIN tf USING (doc_id) WHERE tf.term <> qv.qterm
                GROUP BY qv.qterm, tf.term),
        den2 AS (SELECT term, sum(tfidf * tfidf) AS den2 FROM tf GROUP BY term),
        s AS (SELECT qterm, term, round((num / sqrt(den2)) / den1, 9) AS sim
              FROM num JOIN den2 USING (term) JOIN den1 USING (qterm)
              WHERE num <> 0 AND den1 <> 0),
        r AS (SELECT *, row_number() OVER (PARTITION BY qterm ORDER BY sim DESC, term) AS rn
              FROM s)
        SELECT qterm, term, sim FROM r WHERE rn <= {int(k)} ORDER BY qterm, rn""").fetchall()
    top = {q: [] for q in queries}
    for q, t, s in rows:
        top[q].append([t, s])
    useful = dict(con.execute("""
        WITH co AS (SELECT DISTINCT q.term AS qterm, b.term
                    FROM tf a JOIN q ON a.term = q.term
                    JOIN tf b ON a.doc_id = b.doc_id AND b.term <> a.term)
        SELECT qterm, sum(df)::BIGINT FROM co JOIN (SELECT DISTINCT term, df FROM tf) d
          USING (term) GROUP BY qterm""").fetchall())
    con.close()
    return top, {q: int(useful.get(q, 0)) for q in queries}


def dedup_clusters(docs_parquet, oracle_sql, threads=4):
    """From-scratch clustering of `docs_parquet` by the engine's own
    declared DuckDB oracle SQL for near-duplicate clusters. Returns
    sorted [(doc_id, cluster_id, cluster_size)]."""
    con = _connect(threads)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_parquet}')")
    # DuckDB inlines CTEs, so the recursive step would re-run the whole
    # minhash pipeline per iteration; materializing them keeps the rows
    # identical and the check ~25x faster
    sql = re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", oracle_sql)
    rows = con.execute(f"SELECT doc_id, cluster_id, cluster_size FROM ({sql})").fetchall()
    con.close()
    return sorted((int(a), int(b), int(c)) for a, b, c in rows)
