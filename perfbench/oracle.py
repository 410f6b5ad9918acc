"""DuckDB check of the curation pipeline's output: the engine's own
oracle SQL for the composed pipeline (`x_corpus_pipeline`) and for the
Kneser-Ney scores (`x_kn_logprob`, run over the documents the pipeline
keeps), on the same generated corpus."""
import hashlib

COLUMNS = "doc_id, lang, quality, split, n_bigrams, avg_logp_kn"


def content_hash(rows):
    """sha256 over rows of (doc_id, lang, quality, split, n_bigrams,
    avg_logp_kn), doubles at 6 places with -0.0 folded into 0.0."""
    h = hashlib.sha256()
    for r in rows:
        h.update(("%d|%s|%.6f|%s|%d|%.6f\n" % (
            r[0], r[1], round(r[2], 6) + 0.0, r[3], r[4], round(r[5], 6) + 0.0)).encode())
    return h.hexdigest()


def expected(corpus, pipeline_sql, kn_sql, minhash_sql):
    """The oracle's rows. The pipeline SQL embeds the near-duplicate pair
    query as a subquery that DuckDB would re-evaluate per reference; it
    is materialized once as table `mp` and the same text swapped for it."""
    import duckdb
    inner = "(%s) mp" % minhash_sql
    if inner not in pipeline_sql:
        raise ValueError("pipeline oracle no longer embeds the minhash oracle")
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('%s/*.parquet')" % corpus)
    con.execute("CREATE TABLE mp AS " + minhash_sql)
    con.execute("CREATE TABLE p AS " + pipeline_sql.replace(inner, "mp"))
    con.execute("CREATE SCHEMA kn")
    con.execute("CREATE VIEW kn.documents AS SELECT d.* FROM main.documents d "
                "JOIN main.p USING (doc_id)")
    con.execute("SET search_path = 'kn,main'")
    con.execute("CREATE TABLE main.k AS " + kn_sql)
    con.execute("SET search_path = 'main'")
    rows = con.execute(
        "SELECT p.doc_id, p.lang, p.quality, p.split, k.n_bigrams, k.avg_logp_kn "
        "FROM p JOIN k USING (doc_id) ORDER BY doc_id").fetchall()
    con.close()
    return rows


def actual(out):
    import duckdb
    con = duckdb.connect()
    rows = con.execute("SELECT %s FROM read_parquet('%s/*.parquet') ORDER BY doc_id"
                       % (COLUMNS, out)).fetchall()
    con.close()
    return rows


def check_curation(extra):
    """(outputs checked, outputs that differ, first difference) for every
    pipeline output of the run."""
    want = expected(extra["corpus"], extra["oracle_pipeline_sql"], extra["oracle_kn_sql"],
                    extra["oracle_minhash_sql"])
    want_hash = content_hash(want)
    bad, first = 0, None
    for out in extra["outputs"]:
        got = actual(out)
        if len(got) != len(want) or content_hash(got) != want_hash:
            bad += 1
            if first is None:
                first = "%s: %d rows, oracle %d rows, hash %s vs %s" % (
                    out, len(got), len(want), content_hash(got)[:12], want_hash[:12])
    return len(extra["outputs"]), bad, first, len(want)
