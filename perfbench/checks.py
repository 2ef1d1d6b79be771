"""Output checks of one benchmark run, made after the timed window.

Each check returns a list of human-readable mismatches; an empty list means
the run's outputs are correct.
"""
import duckdb

QUERY_TABLES = ["region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "events", "documents", "embeddings"]


def check(workload, res, expect):
    """Every operation succeeded, and the workload's outputs are right."""
    errors = [f"{o['kind']} {o['name']} failed" for o in res["ops"] if not o["ok"]]
    for c in {"query_suite": [query_suite], "nba_season": [nba_season],
              "corpus_stream": [corpus_stream],
              "corpus_queries": [query_suite, corpus_stream]}[workload]:
        errors += c(res, expect)
    return errors


def query_suite(res, expect):
    """Every query has an oracle, and its row count equals the oracle's over
    the same tables."""
    con = duckdb.connect()
    for t in QUERY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{expect['tables']}/{t}.parquet'")
    oracles = res["facts"]["oracles"]
    want = {}
    errors = []
    for o in res["ops"]:
        name = o["name"]
        if o["kind"] != "query" or not o["ok"]:
            continue
        if name not in oracles:
            errors.append(f"{name}: no oracle")
            continue
        if name not in want:
            want[name] = con.sql(f"SELECT count(*) FROM ({oracles[name]})").fetchone()[0]
        if o["rows"] != want[name]:
            errors.append(f"{name}: {o['rows']} rows, oracle {want[name]}")
    return errors


def nba_season(res, expect):
    """Events balance against published plus quarantined rows, one error row
    per bad game, unique ids, and the delta appends exactly the new games
    (and the dead game, once the API serves it again)."""
    games = expect["games"]
    bad = sorted(k for k, g in games.items() if g["bad"])
    w1 = {k: g for k, g in games.items() if g["wave"] == 1}
    full_ok = {k for k, g in w1.items() if not g["dead"] and not g["bad"]}
    all_ok = sorted(k for k, g in games.items() if not g["bad"])
    served = sum(g["events"] for g in games.values())
    bad_events = sum(games[k]["events"] for k in bad)

    out = res["facts"]["out"]
    pbp = f"read_parquet('{out}/play_by_play_with_players/**/*.parquet', hive_partitioning=true)"
    con = duckdb.connect()
    rows, ids = con.sql(f"SELECT count(*), count(DISTINCT id) FROM {pbp}").fetchone()
    got_games = sorted(r[0] for r in con.sql(f"SELECT DISTINCT GAME_ID FROM {pbp}").fetchall())
    errs = sorted(r[0] for r in con.sql(
        f"SELECT GAME_ID FROM '{out}/lineup_errors/*.parquet'").fetchall())
    full = res["facts"]["full"]

    errors = []
    w1_served = sum(g["events"] for g in w1.values())
    w1_dead = sum(g["events"] for g in w1.values() if g["dead"])
    w1_bad = sum(g["events"] for g in w1.values() if g["bad"] and not g["dead"])
    if w1_served - w1_dead != full["rows"] + w1_bad:
        errors.append(f"full run: served {w1_served} - dead {w1_dead} events != "
                      f"published {full['rows']} + quarantined {w1_bad}")
    if full["games"] != len(full_ok):
        errors.append(f"full run published {full['games']} games, want {len(full_ok)}")
    n_dead = sum(1 for g in games.values() if g["dead"])
    if full["fetch_errors"] != n_dead:
        errors.append(f"{full['fetch_errors']} fetch error rows for {n_dead} dead games")
    if served != rows + bad_events:
        errors.append(f"served {served} events != published {rows} + quarantined {bad_events}")
    if errs != bad:
        errors.append(f"lineup_errors {errs} != one row per bad game {bad}")
    if ids != rows:
        errors.append(f"{rows} published rows but {ids} distinct ids")
    if got_games != all_ok:
        errors.append("the delta run did not append exactly the new and recovered games")
    return errors


def corpus_stream(res, expect):
    """Fresh docs pass the gate, exact copies of gated-in docs do not, and
    the purge leaves no planted id in any store and counts what it deleted."""
    f = res["facts"]
    accepted, corpus = set(f["accepted"]), set(f["corpus_ids"])
    errors = []
    for did, d in expect["docs"].items():
        did = int(did)
        if d["kind"] == "fresh" and did not in accepted:
            errors.append(f"fresh doc {did} was rejected")
        if (d["kind"] == "copy_corpus" and d["src"] in corpus or
                d["kind"] == "copy_batch") and did in accepted:
            errors.append(f"exact copy {did} of {d['src']} was accepted")
    if f["compacted_batches"] != expect["batches"]:
        errors.append(f"compaction folded {f['compacted_batches']} of {expect['batches']} batches")
    if f["resume_refolded_rows"] != 0:
        errors.append(f"resume re-folded {f['resume_refolded_rows']} rows past the manifest")
    purge = ", ".join(map(str, expect["purge"]))
    con = duckdb.connect()
    for name, glob in (("corpus", f"{f['published']}/corpus/**/*.parquet"),
                       ("stream", f"{f['stream']}/batch=*/*.parquet")):
        left = con.sql(f"SELECT count(*) FROM read_parquet('{glob}', hive_partitioning=true) "
                       f"WHERE doc_id IN ({purge})").fetchone()[0]
        if left:
            errors.append(f"{left} purged ids left in the {name} store")
    if f["index_rows_for_purged"] or f["shingle_rows_for_purged"]:
        errors.append("purged ids left in the gate tables")
    report = f["purge_report"]
    if report["curation/corpus"]["rows"] != f["purge_present"]["corpus"]:
        errors.append(f"purge deleted {report['curation/corpus']['rows']} corpus rows, "
                      f"{f['purge_present']['corpus']} were planted there")
    stream_rows = sum(v["rows"] for k, v in report.items() if k.startswith("gate/batch="))
    if stream_rows != f["purge_present"]["stream"]:
        errors.append(f"purge deleted {stream_rows} gated rows, "
                      f"{f['purge_present']['stream']} were planted there")
    return errors
