"""Seeded generator of hourly PostgreSQL stderr logs, with per-hour truth.

Files are named like RDS names them, ``postgresql.log.yyyy-MM-dd-HH``, and
every record starts with the ``%t:%r:%u@%d:[%p]:`` prefix of
``log_line_prefix``. Statements come from a bounded set of query templates
drawn with Zipf-skewed weights; each template's durations are log-normal.

The truth for each hour is counted while the records are written, in the
shape the report sections show: records per level, the hourly histogram
row (records, duration sum, distinct pids) and per-query-class stats.
Durations are whole hundredths of a millisecond, so every sum is exact.

``shapes="multiline"`` plants the record shapes real logs have: statements
wrapped over 3-6 tab-indented lines, DETAIL and CONTEXT records, one blank
and one junk line per file, one file with CRLF endings and one empty hour.
The truth counts records, not physical lines.
"""
import datetime
import json
import math
import os
import random

BASE = datetime.datetime(2026, 3, 1)
PREFIX = "postgresql.log."

# (weight rank is the list order) statement text; {n} is an integer literal
# and '{s}' a string literal, both of which the query normalizer turns into ?
TEMPLATES = [
    "SELECT id, email FROM accounts WHERE id = {n}",
    "SELECT * FROM orders WHERE account_id = {n} ORDER BY created_at DESC LIMIT {n}",
    "UPDATE sessions SET last_seen = now() WHERE token = '{s}'",
    "INSERT INTO events (account_id, kind) VALUES ({n}, '{s}')",
    "SELECT count(*) FROM payments WHERE status = '{s}'",
    "SELECT p.id, p.amount FROM payments p JOIN orders o ON o.id = p.order_id WHERE o.account_id = {n}",
    "DELETE FROM sessions WHERE expires_at < now() - interval '{s}'",
    "SELECT name FROM products WHERE sku = '{s}'",
    "UPDATE accounts SET balance = balance - {n} WHERE id = {n}",
    "SELECT * FROM invoices WHERE due_date < now() AND paid = false LIMIT {n}",
    "INSERT INTO audit_log (actor, action, target) VALUES ('{s}', '{s}', {n})",
    "SELECT sum(amount) FROM payments WHERE account_id = {n} GROUP BY currency",
    "SELECT id FROM users WHERE lower(email) = lower('{s}')",
    "UPDATE orders SET status = '{s}' WHERE id = {n}",
    "SELECT o.id, count(l.id) FROM orders o LEFT JOIN line_items l ON l.order_id = o.id GROUP BY o.id LIMIT {n}",
    "SELECT * FROM feature_flags WHERE key = '{s}'",
    "INSERT INTO payments (order_id, amount, currency) VALUES ({n}, {n}, '{s}')",
    "SELECT token FROM api_keys WHERE account_id = {n} AND revoked = false",
    "VACUUM ANALYZE events",
    "SELECT date_trunc('{s}', created_at) AS bucket, count(*) FROM events GROUP BY bucket ORDER BY bucket",
    "UPDATE users SET last_login = now() WHERE id = {n}",
    "SELECT * FROM refunds WHERE payment_id = {n}",
    "SELECT id, status FROM shipments WHERE order_id = {n}",
    "DELETE FROM carts WHERE account_id = {n}",
]
WORDS = ["alpha", "beta", "gamma", "delta", "pending", "paid", "failed",
         "eur", "gbp", "usd", "signup", "login", "refund", "day", "hour"]
USERS = ["app", "app", "app", "reporting", "admin", "migrator"]
DBS = ["prod", "prod", "analytics"]
ERRORS = [
    'relation "missing_table" does not exist',
    "duplicate key value violates unique constraint \"orders_pkey\"",
    "canceling statement due to statement timeout",
    "deadlock detected",
]
NOTICES = ["connection authorized: user=app database=prod",
           "checkpoint starting: time",
           "automatic vacuum of table \"prod.public.events\": index scans: 1"]
WARNINGS = ["there is no transaction in progress",
            "nonstandard use of escape in a string literal"]
JUNK = "could not receive data from client: Connection reset by peer"


def normalized(template):
    """The class the report's query normalizer gives a template's queries."""
    return " ".join(template.replace("'{s}'", "?").replace("{n}", "?")
                    .lower().split())


def zipf_weights(n, s=1.1):
    return [1.0 / (k + 1) ** s for k in range(n)]


def hour_name(i):
    return (BASE + datetime.timedelta(hours=i)).strftime("%Y-%m-%d-%H")


def hour_index(name):
    """Inverse of hour_name."""
    t = datetime.datetime.strptime(name, "%Y-%m-%d-%H")
    return (t - BASE) // datetime.timedelta(hours=1)


def _slots(template):
    """Template text split around its literal slots: (pieces, slot kinds)."""
    pieces, kinds, rest = [], [], template
    while True:
        cut = [(rest.find(m), m) for m in ("{n}", "{s}") if m in rest]
        if not cut:
            return pieces + [rest], kinds
        at, mark = min(cut)
        pieces.append(rest[:at])
        kinds.append(mark)
        rest = rest[at + 3:]


SLOTS = [_slots(t) for t in TEMPLATES]
CLASSES = [normalized(t) for t in TEMPLATES]


def _statement(rng, t):
    pieces, kinds = SLOTS[t]
    out = [pieces[0]]
    for kind, piece in zip(kinds, pieces[1:]):
        out.append(str(rng.randrange(1, 100000)) if kind == "{n}"
                   else rng.choice(WORDS) + str(rng.randrange(100)))
        out.append(piece)
    return "".join(out)


def _wrap(rng, text):
    """Split a statement over 3-6 physical lines, continuations tab-indented."""
    words = text.split(" ")
    pieces = min(rng.randint(3, 6), len(words))
    cuts = sorted(rng.sample(range(1, len(words)), pieces - 1))
    parts = [" ".join(words[a:b]) for a, b in zip([0] + cuts, cuts + [len(words)])]
    return parts[0] + "".join("\n\t" + p for p in parts[1:])


def gen_hour(seed, hour, records, multiline):
    """Lines and truth of one hourly file."""
    rng = random.Random(f"{seed}:{hour}")
    start = BASE + datetime.timedelta(hours=hour)
    weights = zipf_weights(len(TEMPLATES))
    # per-template log-normal: medians spread from ~0.1 ms to ~1 s
    mus = [math.log(0.1 * 1.4 ** k) for k in range(len(TEMPLATES))]
    pids = [rng.randrange(2000, 32000) for _ in range(60)]
    secs = sorted(rng.randrange(3600) for _ in range(records))
    stamps = {}
    kinds = rng.choices(range(len(TEMPLATES)), weights=weights, k=records)
    who = rng.choices(pids, k=records)
    levels, pid_set, queries = {}, set(), {}
    sum_cents = 0
    lines = []
    junk_at = rng.randrange(records) if multiline and records else -1

    # %r is host(port) and %u@%d user@database, both fixed per backend pid
    prefix = {p: f":10.0.{p % 7}.{p % 250}(5{p % 10000:04d}):"
                 f"{USERS[p % len(USERS)]}@{DBS[p % len(DBS)]}:[{p}]:"
              for p in pids}

    def record(ts, pid, level, msg):
        lines.append(f"{ts}{prefix[pid]}{level}:  {msg}")
        levels[level] = levels.get(level, 0) + 1
        pid_set.add(pid)

    for r in range(records):
        ts = stamps.get(secs[r])
        if ts is None:
            ts = stamps[secs[r]] = (start + datetime.timedelta(
                seconds=secs[r])).strftime("%Y-%m-%d %H:%M:%S UTC")
        pid = who[r]
        roll = rng.random()
        if roll < 0.86:
            t = kinds[r]
            cents = max(1, round(rng.lognormvariate(mus[t], 1.0) * 100))
            text = _statement(rng, t)
            if multiline and rng.random() < 0.10:
                text = _wrap(rng, text)
            record(ts, pid, "LOG",
                   f"duration: {cents // 100}.{cents % 100:02d} ms  statement: {text}")
            sum_cents += cents
            q = queries.setdefault(CLASSES[t], [0, cents, cents, 0])
            q[0] += 1
            q[1] = min(q[1], cents)
            q[2] = max(q[2], cents)
            q[3] += cents
        elif roll < 0.92:
            record(ts, pid, "LOG", rng.choice(NOTICES))
        elif roll < 0.97:
            record(ts, pid, "ERROR", rng.choice(ERRORS))
            if multiline and rng.random() < 0.5:
                record(ts, pid, "DETAIL", f"Key (id)=({rng.randrange(1000)}) already exists.")
                if rng.random() < 0.5:
                    record(ts, pid, "CONTEXT", "SQL statement in PL/pgSQL function")
        else:
            record(ts, pid, "WARNING", rng.choice(WARNINGS))
        if r == junk_at:
            # after a record that carries no statement, so the stitched
            # query text is unaffected; stitching appends it to the message
            record(ts, pid, "LOG", NOTICES[1])
            lines.append("")
            lines.append(JUNK)
    truth = {
        "records": sum(levels.values()),
        "levels": levels,
        "n_users": len(pid_set),
        "sum_cents": sum_cents,
        "queries": queries,
    }
    return lines, truth


def generate(out_dir, seed, hours, records, shapes="clean"):
    """Write `hours` hourly files under out_dir/logs and out_dir/truth.json."""
    multiline = shapes == "multiline"
    rng = random.Random(f"{seed}:layout")
    crlf = rng.randrange(hours) if multiline else -1
    empty = rng.randrange(hours) if multiline else -1
    while multiline and empty == crlf:
        empty = rng.randrange(hours)
    logs = os.path.join(out_dir, "logs")
    os.makedirs(logs, exist_ok=True)
    truth = {}
    for h in range(hours):
        name = PREFIX + hour_name(h)
        if h == empty:
            lines, t = [], {"records": 0, "levels": {}, "n_users": 0,
                            "sum_cents": 0, "queries": {}}
        else:
            lines, t = gen_hour(seed, h, records, multiline)
        text = "".join(line + "\n" for line in lines)
        if h == crlf:
            text = text.replace("\n", "\r\n")
        with open(os.path.join(logs, name), "w", newline="") as f:
            f.write(text)
        truth[name] = t
    layout = {"seed": seed, "hours": hours, "records": records,
              "shapes": shapes, "crlf_file": crlf, "empty_file": empty}
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump({"layout": layout, "files": truth}, f)
    return truth


def window(truth, ref_index, k=5):
    """Names of the k closed hours before reference hour `ref_index`: the
    files the report and backfill select for it."""
    return [PREFIX + hour_name(i) for i in range(ref_index - k, ref_index)
            if i >= 0 and PREFIX + hour_name(i) in truth]
