"""Output checks, computed apart from the program.

Board: each query's written parquet is compared with its DuckDB oracle
over the same input tables by tools/compare_oracle.py; the two PELT
rows without an oracle are compared with a PELT change-point
computation written here from the published algorithm
(`pelt_changepoint_score`). Season: properties and
recomputations over the staged pipeline's written tables.
"""
import json
import math
import subprocess
import sys
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

import compare_oracle  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
PELT_ROWS = ("k2_pelt_agg", "k2_pelt_changepoint")
PENALTY, MIN_SIZE, JUMP = 0.01, 2, 5


def _l2_cost(prefix, prefix_sq, start, end):
    n = end - start
    if n <= 0:
        return 0.0
    s = prefix[end] - prefix[start]
    sq = prefix_sq[end] - prefix_sq[start]
    mean = s / n
    return max(0.0, sq - 2 * mean * s + n * mean * mean)


def _segment(signal):
    """Segment ends of the PELT partition (L2 cost, one penalty per
    segment, ends on the jump grid plus the series end, segments of at
    least MIN_SIZE; Killick et al. 2012), written from the published
    algorithm of the reference's change-point library: a start t stays
    admissible at end s while F(t) + cost(t, s) <= F(s), and ties go to
    the smallest start. With MIN_SIZE > 1 this pruning is not exact: a
    start can be dropped at a grid end that is too close to the series
    end to be a split point there, so the result can cost more than the
    optimal partition (README.md, "PELT check")."""
    n = len(signal)
    if n < 2 * MIN_SIZE:
        return [n]
    prefix, prefix_sq = [0.0], [0.0]
    for v in signal:
        prefix.append(prefix[-1] + v)
        prefix_sq.append(prefix_sq[-1] + v * v)
    ends = [b for b in range(0, n, JUMP) if b >= MIN_SIZE] + [n]
    best = {0: (0.0, [])}
    admissible = []
    for b in ends:
        admissible.append((b - MIN_SIZE) // JUMP * JUMP)
        sub = [(best[t][0] + _l2_cost(prefix, prefix_sq, t, b) + PENALTY, t)
               for t in admissible if t in best]
        cost, t = min(sub, key=lambda ct: ct[0])
        best[b] = (cost, best[t][1] + [b])
        keep = {u for c, u in sub if c <= cost + PENALTY}
        admissible = [u for u in admissible if u in keep]
    return best[n][1]


def _mean(xs, a, b):
    s = 0.0
    for i in range(a, b):
        s += xs[i]
    return s / (b - a)


def pelt_changepoint_score(signal):
    """(change point, deception score): the largest adjacent-segment mean
    shift among the segment ends (first on ties), then mean after minus
    mean before; with no change point, the signal length and last minus
    first."""
    n = len(signal)
    cps = _segment(signal)
    cp = n
    if len(cps) > 1:
        best_mag, cp = -math.inf, cps[0]
        for i in range(len(cps) - 1):
            lo = cps[i - 1] if i > 0 else 0
            c, hi = cps[i], cps[i + 1]
            mag = abs(_mean(signal, c, hi) - _mean(signal, lo, c)) if lo < c < hi else 0.0
            if mag > best_mag:
                best_mag, cp = mag, c
    if n == 0:
        return cp, 0.0
    if cp == n:
        return cp, signal[-1] - signal[0]
    return cp, _mean(signal, cp, n) - _mean(signal, 0, cp)


def _pelt_expected(con):
    rows = con.execute(
        "SELECT user_id, value FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL "
        "AND ts IS NOT NULL AND event_id IS NOT NULL ORDER BY user_id, ts, event_id").fetchall()
    series = {}
    for uid, v in rows:
        series.setdefault(uid, []).append(v)
    out = []
    for uid, sig in sorted(series.items()):
        cp, score = pelt_changepoint_score(sig)
        out.append((cp, round(score * 10000) / 10000, len(sig), uid))
    return ["change_point", "deception_score", "n_points", "user_id"], out


def _check_pelt_row(con, qdir):
    cols, want = _pelt_expected(con)
    got_rel = con.sql(f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
    if sorted(got_rel.columns) != cols:
        return f"columns: program={sorted(got_rel.columns)} check={cols}"
    collist = ", ".join(f'"{c}"' for c in cols)
    got = con.execute(
        f"SELECT {collist} FROM read_parquet('{qdir}/*.parquet') ORDER BY ALL").fetchall()
    want.sort()
    if len(got) != len(want):
        return f"rows: program={len(got)} check={len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        for c, gv, wv in zip(cols, g, w):
            if not compare_oracle.cells_equal(gv, wv):
                return f"row {i} col {c}: program={gv!r} check={wv!r}"
    return None


def check_board(record, data, out):
    """Returns {query: None | mismatch text} for every timed query.

    Queries with oracle SQL go through tools/compare_oracle.py, the
    repository's DuckDB compare, run as it is over the out dir (one
    parquet dir per query plus oracle_sql.json, the layout `Verify`
    writes); the PELT rows it reports as rows_only are checked here."""
    proc = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "compare_oracle.py"), str(out), str(data)],
        capture_output=True, text=True, timeout=600)
    try:
        compared = json.loads(proc.stdout)["queries"]
    except ValueError:
        sys.exit(f"compare_oracle.py gave no result ({proc.returncode}):\n{proc.stderr[-3000:]}")
    con = duckdb.connect(config={"threads": 1})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    verdicts = {}
    for op in record["ops"]:
        name = op["name"]
        if name in verdicts:
            continue
        if op["error"]:
            verdicts[name] = "error: " + op["error"]
            continue
        status = compared.get(name, {"status": "fail", "detail": "no output written"})
        if status["status"] == "pass":
            verdicts[name] = None
        elif status["status"] == "rows_only" and name in PELT_ROWS:
            verdicts[name] = _check_pelt_row(con, out / name)
        elif status["status"] == "rows_only":
            verdicts[name] = "no independent check for this query"
        else:
            verdicts[name] = status["detail"]
    return verdicts


def _auc(pairs):
    """Area under the ROC curve, tied scores counted half."""
    pos = sum(1 for y, _ in pairs if y == 1)
    neg = len(pairs) - pos
    ranked = sorted(pairs, key=lambda yp: yp[1])
    wins, i = 0.0, 0
    negs_below = 0
    while i < len(ranked):
        j = i
        while j < len(ranked) and ranked[j][1] == ranked[i][1]:
            j += 1
        p_here = sum(1 for y, _ in ranked[i:j] if y == 1)
        n_here = (j - i) - p_here
        wins += p_here * (negs_below + 0.5 * n_here)
        negs_below += n_here
        i = j
    return wins / (pos * neg)


def check_season(record, data, out):
    """Returns the list of failed season checks (empty when all hold)."""
    con = duckdb.connect(config={"threads": 1})

    def rows(sql):
        return con.execute(sql).fetchall()

    def t(name):
        return f"read_parquet('{out}/{name}/*.parquet')"

    bad = []
    results = rows(f"SELECT game_id, play_id, frame_id, pass_result, "
                   f"non_completion_probability FROM {t('results')} "
                   f"ORDER BY game_id, play_id, frame_id")
    scores = {(g, p): (d, r) for g, p, d, r in rows(
        f"SELECT game_id, play_id, deception_score, recovery_score FROM {t('scores')}")}
    series = {}
    for g, p, _, res, prob in results:
        series.setdefault((g, p), []).append((res, prob))
    weights = {"C": lambda q: -q, "I": lambda q: 1.0 - q, "IN": lambda q: 1.2 * (1.0 - q)}
    for key, frames in series.items():
        if key not in scores:
            bad.append(f"play {key} has results but no score")
            break
        dec, rec = scores[key]
        _, want_dec = pelt_changepoint_score([q for _, q in frames])
        if abs(dec - want_dec) > 1e-9:
            bad.append(f"deception_score of play {key}: program={dec} check={want_dec}")
            break
        res, q = frames[-1]
        want_rec = weights.get(res, lambda _: 0.0)(q)
        if abs(rec - want_rec) > 1e-12:
            bad.append(f"recovery_score of play {key}: program={rec} check={want_rec}")
            break

    week = dict(((g, p), w) for g, p, w in rows(
        f"SELECT game_id, play_id, week FROM read_parquet('{data}/plays/*.parquet')"))
    train = rows(f"SELECT game_id, play_id FROM {t('train')}")
    test = rows(f"SELECT game_id, play_id FROM {t('test')}")
    if set(train) & set(test):
        bad.append("train and test share plays")
    if any(week[k] > 9 for k in train) or any(week[k] <= 9 for k in test):
        bad.append("train/test split is not by week (train <= 9 < test)")
    if not train or not test:
        bad.append("empty train or test split")

    frames = rows(f"SELECT DISTINCT game_id, play_id, frame_id FROM {t('clean_before')}")
    inference = rows(f"SELECT game_id, play_id, frame_id FROM {t('inference_features')}")
    if len(inference) != len(set(inference)) or set(inference) != set(frames):
        bad.append(f"inference rows ({len(inference)}) are not one per kept "
                   f"before-throw frame ({len(frames)})")
    kept = set(rows(f"SELECT game_id, play_id FROM {t('clean_plays')}"))
    if set(scores) != kept or not kept:
        bad.append(f"scored plays ({len(scores)}) differ from kept plays ({len(kept)})")

    preds = rows(f"SELECT CAST(target AS INTEGER), non_completion_probability "
                 f"FROM {t('test_predictions')}")
    probs = [q for *_, q in results] + [q for _, q in preds]
    if not all(0.0 <= q <= 1.0 for q in probs):
        bad.append("a probability outside [0, 1]")
    eps = 1e-15
    want = {
        "auc": _auc(preds),
        "logloss": sum(-(y * math.log(min(max(q, eps), 1 - eps)) +
                         (1 - y) * math.log(1 - min(max(q, eps), 1 - eps)))
                       for y, q in preds) / len(preds),
        "brier": sum((q - y) ** 2 for y, q in preds) / len(preds),
    }
    for k, v in want.items():
        got = record["model_metrics"][k]
        if not math.isclose(got, v, rel_tol=1e-9, abs_tol=1e-9):
            bad.append(f"{k}: program={got} check={v}")
    return bad
