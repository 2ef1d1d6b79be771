"""Seeded input generators for the benchmark.

Everything the benchmark feeds the engine is made here, from the seed, before
any timing starts:

  * the ten query tables (a TPC-H-like star schema plus `events`,
    `documents` and `embeddings`), shaped like the engine's test data;
  * the `nba_season` stats-API world: a season of games with planted dead
    game ids and lineup-quarantine games, plus a second wave of new games
    served to the delta pass;
  * the `corpus_stream` crawl batches: fresh docs, exact copies and near-dup
    edits of corpus docs and of earlier batches, and the ids to purge.

The same seed always gives the same files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
PART_ADJ = ["small", "red", "blue", "large", "hot", "cold", "new", "old"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "gizmo", "plate", "rod"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000


def _write(table, path):
    pq.write_table(table, path)


def _days(rng, n, lo="1995-01-01", span_days=2404):
    base = np.datetime64(lo, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def _doc_text(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def documents(rng, n):
    """`n` documents; every 20th is an earlier doc with ' dup' appended."""
    texts = []
    for i in range(n):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_doc_text(rng, int(rng.integers(10, 100))))
    return texts


def query_tables(out, sf, seed):
    """The ten tables every `SparkEntry.queries` entry reads."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    keys = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2)}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_days(rng, n_ord), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    # lineitem: 1-7 lines per order, order keys drawn with repetition like
    # the test data (so some orders have none and a few have many)
    n_li = 4 * n_ord
    okeys = np.sort(rng.integers(0, n_ord, n_li))
    first = np.r_[True, okeys[1:] != okeys[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_li), 0))
    linenum = (np.arange(n_li) - run_start) % 7 + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 3000.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, n_li, span_days=2499), pa.timestamp("us"))}),
        f"{out}/lineitem.parquet")
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * DAY_US, n_ev)).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 70), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(25.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    texts = documents(rng, n_doc)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}),
        f"{out}/embeddings.parquet")



# ---------------------------------------------------------------- nba_season

SEASON, SEASON_TYPE, PREFIX = "2024-25", "Regular Season", "00224"
N_TEAMS, TEAM0 = 30, 1610612737
PBP_HDR = ["GAME_ID", "EVENTNUM", "EVENTMSGTYPE", "EVENTMSGACTIONTYPE", "PERIOD",
           "PCTIMESTRING", "HOMEDESCRIPTION", "NEUTRALDESCRIPTION",
           "VISITORDESCRIPTION", "PLAYER1_ID", "PLAYER1_TEAM_ID", "PLAYER2_ID",
           "PLAYER2_TEAM_ID", "PLAYER3_ID", "PLAYER3_TEAM_ID"]
ROT_HDR = ["GAME_ID", "TEAM_ID", "TEAM_CITY", "TEAM_NAME", "PERSON_ID", "PLAYER_FIRST",
           "PLAYER_LAST", "IN_TIME_REAL", "OUT_TIME_REAL", "PLAYER_PTS", "PT_DIFF", "USG_PCT"]
LOG_HDR = ["GAME_ID", "TEAM_ID", "TEAM_ABBREVIATION", "GAME_DATE", "MATCHUP", "WL", "PTS"]
BOX_HDR = ["GAME_ID", "TEAM_ID", "PLAYER_ID", "MIN"]
SHOT_HDR = ["GAME_ID", "GAME_EVENT_ID", "PLAYER_ID", "TEAM_ID", "SHOT_MADE_FLAG", "SHOT_TYPE"]
ABSENT_PLAYER = 999


def _rs(name, headers, rows):
    return {"name": name, "headers": headers,
            "rowSet": [[None if v is None else str(v) for v in r] for r in rows]}


def _body(*sets):
    return json.dumps({"resultSets": list(sets)}, separators=(",", ":"))


def _roster(team):
    return [team * 100 + 1000 + k for k in range(1, 7)]  # six per team, #6 comes off the bench


def _clock(sec_left):
    return f"{sec_left // 60}:{sec_left % 60:02d}"


def nba_game(rng, gid, away_i, home_i, bad, n_events):
    """One game's API bodies and its event count. Each team starts players
    1-5; away player `a_out` leaves for #6 at 6:00 of period 1, home player
    `h_out` at 6:00 of period 2. A `bad` game's period-1 substitution names a
    player who is not on the floor, which quarantines the game."""
    away, home = TEAM0 + away_i, TEAM0 + home_i
    ar, hr = _roster(away_i), _roster(home_i)
    a_out, h_out = ar[int(rng.integers(0, 5))], hr[int(rng.integers(0, 5))]
    a_court, h_court = ar[:5], hr[:5]
    events = [(1, 12 * 60, 10, ar[0], away, hr[0], home)]  # opening jump ball
    fixed = {(1, 6 * 60): ("away", ABSENT_PLAYER if bad else a_out),
             (2, 6 * 60): ("home", h_out)}
    slots = sorted({(int(p), int(t)) for p, t in zip(
        rng.integers(1, 5, n_events), rng.integers(5, 12 * 60 - 5, n_events))
        if (int(p), int(t)) not in fixed and not (int(p) == 1 and int(t) >= 12 * 60 - 5)},
        key=lambda x: (x[0], -x[1]))
    timeline = sorted([(p, t, None) for p, t in slots] +
                      [(p, t, v) for (p, t), v in fixed.items()] +
                      [(p, 12 * 60, "start") for p in (2, 3, 4)],
                      key=lambda x: (x[0], -x[1], x[2] != "start"))
    for p, t, what in timeline:
        if what == "start":
            events.append((p, t, 12, None, None, None, None))
        elif what is not None:
            side, out = what
            team, court, sub = (away, a_court, ar[5]) if side == "away" else (home, h_court, hr[5])
            events.append((p, t, 8, out, team, sub, team))
            if out in court:
                court[court.index(out)] = sub
        else:
            side = int(rng.integers(0, 2))
            team, court = (away, a_court) if side == 0 else (home, h_court)
            events.append((p, t, int(rng.integers(1, 3)), court[int(rng.integers(0, 5))],
                           team, None, None))
    pbp = [[gid, n + 1, typ, 0, p, _clock(t), None, "d", None, p1, t1, p2, t2, None, None]
           for n, (p, t, typ, p1, t1, p2, t2) in enumerate(events)]

    def rot(team, roster, out, at):
        rows = []
        for pid in roster:
            span = (0, 28800) if pid != out and pid != roster[5] else \
                ((0, at) if pid == out else (at, 28800))
            rows.append([gid, team, "City", f"T{team}", pid, f"F{pid}", f"L{pid}",
                         float(span[0]), float(span[1]), 10.0, 2.0, 0.2])
        return rows
    rotation = _body(_rs("AwayTeam", ROT_HDR, rot(away, ar, a_out, 3600)),
                     _rs("HomeTeam", ROT_HDR, rot(home, hr, h_out, 10800)))
    # period-sliced box scores: whoever was on the floor in the period
    a_after = [x for x in ar[:5] if x != a_out] + [ar[5]]
    h_after = [x for x in hr[:5] if x != h_out] + [hr[5]]
    on_floor = {1: (ar, hr[:5]), 2: (a_after, hr), 3: (a_after, h_after), 4: (a_after, h_after)}
    if bad:  # the named substitution never happened: a_out stays on in period 1
        on_floor[1] = (ar[:5] + [ar[5]], hr[:5])
    boxes = {p: _body(_rs("PlayerStats", BOX_HDR,
                          [[gid, away, x, "8:30"] for x in a] + [[gid, home, x, "8:30"] for x in h]))
             for p, (a, h) in on_floor.items()}
    shots = [(gid, n + 1, r[9], r[10], 1 if r[2] == 1 else 0)
             for n, r in enumerate(pbp) if r[2] in (1, 2)]
    return {"pbp": _body(_rs("PlayByPlay", PBP_HDR, pbp)), "rotation": rotation,
            "boxes": boxes, "events": len(pbp), "away": away, "home": home, "shots": shots}


def nba_world(out, seed, n_games, n_new, events_per_game, bad_every, dead):
    """The stats API of one season-scale scope, then `n_new` more games for
    the delta pass. Writes `api.tsv` (key, body) and returns the facts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    total = n_games + n_new
    order = rng.permutation(10_000)[:total]
    gids = [f"{PREFIX}{int(i):05d}" for i in order]
    bad = {g for k, g in enumerate(gids) if k % bad_every == bad_every // 2}
    dead_ids = {gids[k] for k in rng.choice(n_games, dead, replace=False)}
    games, shots_by_combo = {}, {}
    with open(f"{out}/api.tsv", "w") as fh:
        for k, g in enumerate(gids):
            a, h = rng.choice(N_TEAMS, 2, replace=False)
            n_ev = int(rng.integers(events_per_game // 2, events_per_game * 3 // 2))
            gm = nba_game(rng, g, int(a), int(h), g in bad, n_ev)
            wave = 1 if k < n_games else 2
            games[g] = {"wave": wave, "events": gm["events"], "bad": g in bad,
                        "dead": g in dead_ids, "away": gm["away"], "home": gm["home"]}
            fh.write(f"pbp:{g}\t{gm['pbp']}\n")
            fh.write(f"rot:{g}\t{gm['rotation']}\n")
            for p, b in gm["boxes"].items():
                fh.write(f"box:{g}:{p}\t{b}\n")
            for s in gm["shots"]:
                shots_by_combo.setdefault((s[2], s[3]), []).append((wave, s))
        for wave in (1, 2):
            in_log = [g for g in gids if games[g]["wave"] <= wave]
            rows = []
            for n, g in enumerate(in_log):
                gm = games[g]
                day = f"2024-{10 + n * 6 // total:02d}-{1 + n % 28:02d}"
                rows.append([g, gm["away"], f"T{gm['away']}", day, f"A @ H", "W", 100.0])
                rows.append([g, gm["home"], f"T{gm['home']}", day, f"H vs. A", "L", 98.0])
            fh.write(f"log:{wave}\t{_body(_rs('LeagueGameLog', LOG_HDR, rows))}\n")
            for (pid, tid), ss in shots_by_combo.items():
                rows = [[*s[:4], s[4], "2PT Field Goal"] for w, s in ss if w <= wave]
                fh.write(f"shot:{wave}:{pid}:{tid}\t"
                         f"{_body(_rs('Shot_Chart_Detail', SHOT_HDR, rows))}\n")
    with open(f"{out}/dead.txt", "w") as fh:
        fh.write("\n".join(sorted(dead_ids)) + "\n")
    return {"season": SEASON, "season_type": SEASON_TYPE, "games": games}



# ------------------------------------------------------------- corpus_stream

def _fresh_text(rng, tag):
    """A doc no other doc shares shingles with: every third word is unique."""
    n = int(rng.integers(30, 80))
    return " ".join(f"{tag}w{j}" if j % 3 == 0 else WORDS[int(rng.integers(0, len(WORDS)))]
                    for j in range(n))


def _edit(rng, text):
    """A near-dup: one word in forty replaced."""
    w = text.split(" ")
    for j in rng.choice(len(w), max(1, len(w) // 40), replace=False):
        w[j] = WORDS[int(rng.integers(0, len(WORDS)))]
    return " ".join(w)


def corpus_world(out, seed, n_docs, batches, batch_size, purge_each):
    """The corpus, K crawl batches and the ids to purge.

    Batch mix: half fresh docs, a fifth exact copies of long corpus docs, a
    tenth near-dup edits of corpus docs, a tenth exact copies and a tenth
    near-dup edits of earlier batches' fresh docs (of corpus docs in batch 0).
    """
    rng = np.random.default_rng(seed)
    os.makedirs(f"{out}/corpus", exist_ok=True)
    os.makedirs(f"{out}/crawl", exist_ok=True)
    texts = documents(rng, n_docs)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/corpus/documents.parquet")
    n_emb = n_docs * 2 // 5
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}),
        f"{out}/corpus/embeddings.parquet")

    long_docs = [i for i, t in enumerate(texts) if len(t.split(" ")) >= 20]
    kinds = (["fresh"] * 10 + ["copy_corpus"] * 4 + ["edit_corpus"] * 2 +
             ["copy_batch"] * 2 + ["edit_batch"] * 2)
    docs, fresh = {}, []
    t0 = 1_700_000_000
    for b in range(batches):
        rows = []
        for i in range(batch_size):
            did = 10_000_000 + b * 100_000 + i
            kind = kinds[int(rng.integers(0, len(kinds)))]
            if kind.endswith("batch") and not fresh:
                kind = kind.replace("batch", "corpus")
            if kind == "fresh":
                src, text = None, _fresh_text(rng, f"b{b}d{i}")
            elif kind.endswith("corpus"):
                src = long_docs[int(rng.integers(0, len(long_docs)))]
                text = texts[src]
            else:
                src = fresh[int(rng.integers(0, len(fresh)))]
                text = docs[src]["text"]
            if kind.startswith("edit"):
                text = _edit(rng, text)
            docs[did] = {"batch": b, "kind": kind, "src": src, "text": text}
            rows.append((did, text))
        fresh += [d for d, _ in rows if docs[d]["kind"] == "fresh"]
        path = f"{out}/crawl/batch_{b:03d}.parquet"
        _write(pa.table({
            "doc_id": pa.array([d for d, _ in rows], pa.int64()),
            "text": [t for _, t in rows],
            "lang": ["en"] * len(rows),
            "source": [f"crawl{b}"] * len(rows),
            "n_chars": pa.array([len(t) for _, t in rows], pa.int64())}), path)
        os.utime(path, (t0 + b, t0 + b))  # the stream reads files oldest first
    purge = sorted(int(x) for x in rng.choice(n_docs, purge_each, replace=False))
    purge += sorted(int(x) for x in rng.choice(fresh, purge_each, replace=False))
    with open(f"{out}/purge_ids.txt", "w") as fh:
        fh.write("\n".join(map(str, purge)) + "\n")
    return {"docs": {str(k): {x: v[x] for x in ("batch", "kind", "src")} for k, v in docs.items()},
            "purge": purge, "batches": batches}


SIZES = {
    # workload -> size -> parameters
    "query_suite": {"full": {"sf": 0.01}, "tiny": {"sf": 0.001}},
    # ~500 events per game, as in a real box score's play-by-play; the game
    # count, not the game, is cut to fit the run time
    "nba_season": {"full": {"n_games": 60, "n_new": 6, "events_per_game": 500,
                            "bad_every": 20, "dead": 1},
                   "tiny": {"n_games": 12, "n_new": 3, "events_per_game": 10,
                            "bad_every": 5, "dead": 1}},
    "corpus_stream": {"full": {"n_docs": 400, "batches": 2, "batch_size": 60,
                               "purge_each": 4},
                      "tiny": {"n_docs": 300, "batches": 2, "batch_size": 40,
                               "purge_each": 3}},
}


def make(workload, out, seed, size):
    """Write the inputs of one workload run under `out`; return the facts
    the output checks need."""
    if workload == "corpus_queries":  # both inputs, in one directory
        return {**make("corpus_stream", out, seed, size), **make("query_suite", out, seed, size)}
    p = SIZES[workload][size]
    os.makedirs(out, exist_ok=True)
    if workload == "query_suite":
        query_tables(f"{out}/tables", p["sf"], seed)
        query_tables(f"{out}/warm", 0.001, seed + 1)  # the set-up pass's smaller tables
        return {"tables": f"{out}/tables"}
    if workload == "nba_season":
        facts = nba_world(f"{out}/api", seed, **p)
        with open(f"{out}/nba.json", "w") as fh:
            json.dump(facts, fh)
        return facts
    if workload == "corpus_stream":
        return corpus_world(out, seed, **p)
    raise ValueError(workload)
