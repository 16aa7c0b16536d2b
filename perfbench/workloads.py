"""Seeded op streams for the statement workloads, with their DuckDB twins.

Each op is (trino_sql, duckdb_sql, kind). The Trino text is what the
benchmark sends to graft's statement server; the DuckDB text computes the
reference answer over the same parquet tables.
"""
import random

HOT_PER_TEMPLATE = 2  # 12 templates x 2 hot texts fit the 64-entry plan cache
N_ORDERS = 150_000    # orders / lineitem key range of the sf0.1 fixture
N_CUST = 15_000
N_PART = 20_000
N_USERS = 1_500


def _dates(r, days):
    """A seeded [d, d + days) date range, as two literals."""
    import datetime
    d = datetime.date(1995, 1, 1) + datetime.timedelta(days=r.randrange(6 * 365))
    return {"d": d.isoformat(), "e": (d + datetime.timedelta(days=days)).isoformat()}


def _templates():
    """(name, literal generator, trino format, duckdb format)."""
    return [
        ("point", lambda r: {"k": r.randrange(N_ORDERS)},
         "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders "
         "WHERE o_orderkey = {k}", None),
        ("range_agg", lambda r: {"k": r.randrange(N_ORDERS - 500)},
         "SELECT count(*) AS n, sum(l_quantity) AS q, "
         "sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev FROM lineitem "
         "WHERE l_orderkey BETWEEN {k} AND {k} + 500", None),
        ("flag_groupby", lambda r: _dates(r, 30),
         "SELECT l_returnflag, l_linestatus, count(*) AS n, "
         "sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev FROM lineitem "
         "WHERE l_shipdate >= DATE '{d}' AND l_shipdate < DATE '{e}' "
         "GROUP BY l_returnflag, l_linestatus", None),
        ("topn", lambda r: {"c": r.randrange(N_CUST)},
         "SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = {c} "
         "ORDER BY o_totalprice DESC, o_orderkey LIMIT 5", None),
        ("join_segment", lambda r: _dates(r, 7),
         "SELECT c_mktsegment, count(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey "
         "WHERE o_orderdate >= DATE '{d}' AND o_orderdate < DATE '{e}' "
         "GROUP BY c_mktsegment", None),
        ("join_nation", lambda r: {"x": r.randrange(-900, 9900)},
         "SELECT n_name, count(*) AS n FROM customer JOIN nation ON c_nationkey = n_nationkey "
         "WHERE c_acctbal > {x} GROUP BY n_name", None),
        ("try_cast", lambda r: {"c": r.randrange(N_CUST - 20)},
         "SELECT count(*) AS n, count(TRY(CAST(substr(o_orderpriority, 1, 1) AS INTEGER))) AS parsed, "
         "count(TRY(CAST(o_orderstatus AS INTEGER))) AS bad FROM orders "
         "WHERE o_custkey BETWEEN {c} AND {c} + 20",
         "SELECT count(*) AS n, count(TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER)) AS parsed, "
         "count(TRY_CAST(o_orderstatus AS INTEGER)) AS bad FROM orders "
         "WHERE o_custkey BETWEEN {c} AND {c} + 20"),
        ("format", lambda r: {"k": r.randrange(N_ORDERS - 20)},
         "SELECT format('%s-%d', o_orderstatus, o_orderkey) AS tag FROM orders "
         "WHERE o_orderkey BETWEEN {k} AND {k} + 20",
         "SELECT printf('%s-%d', o_orderstatus, o_orderkey) AS tag FROM orders "
         "WHERE o_orderkey BETWEEN {k} AND {k} + 20"),
        ("fetch_first", lambda r: {"p": r.randrange(N_PART)},
         "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_partkey = {p} "
         "ORDER BY l_orderkey, l_linenumber, l_quantity FETCH FIRST 10 ROWS ONLY",
         "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_partkey = {p} "
         "ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 10"),
        ("paged", lambda r: {"c": r.randrange(N_CUST - 400)},
         "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders "
         "WHERE o_custkey BETWEEN {c} AND {c} + 400", None),
        ("window_rank", lambda r: {"c": r.randrange(N_CUST - 5)},
         "SELECT o_custkey, o_orderkey, rank() OVER (PARTITION BY o_custkey "
         "ORDER BY o_totalprice DESC, o_orderkey) AS r FROM orders "
         "WHERE o_custkey BETWEEN {c} AND {c} + 5", None),
        ("events_distinct", lambda r: {"u": r.randrange(N_USERS - 50)},
         "SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users FROM events "
         "WHERE user_id BETWEEN {u} AND {u} + 50 GROUP BY event_type", None),
    ]


def _mix(templates, seed, n):
    """n ops cycling through `templates` in seeded orders. Every other visit
    of a template reuses one of a few fixed texts (a working set that fits
    the plan cache); the rest get fresh seeded literals. So every window of
    ops has the same template and hot/fresh mix, whatever the seed."""
    r = random.Random(seed)
    hot = [[t[1](random.Random(1000 * i + j)) for j in range(HOT_PER_TEMPLATE)]
           for i, t in enumerate(templates)]
    out = []
    order = list(range(len(templates)))
    visit = 0
    while len(out) < n:
        r.shuffle(order)
        for i in order:
            t = templates[i]
            lit = hot[i][r.randrange(HOT_PER_TEMPLATE)] if visit % 2 == 0 else t[1](r)
            out.append((t[2].format(**lit), (t[3] or t[2]).format(**lit)))
        visit += 1
    return out[:n]


def sql_interactive(seed, clients=4, per_client=3000, warmup=400):
    """Closed-loop dashboard mix: per-client op lists plus a warm-up list."""
    ts = _templates()
    return {
        "clients": [_mix(ts, seed * 31 + c, per_client) for c in range(clients)],
        "warmup": [t for t, _ in _mix(ts, seed * 7919 + 1, warmup)],
    }


COW_COLUMNS = ("l_orderkey, l_linenumber, l_partkey, CAST(l_quantity AS BIGINT) AS l_quantity, "
               "CAST(l_extendedprice AS DECIMAL(12,2)) AS price, l_returnflag")
INSERT_OFFSET = 10_000_000
WARM_ORDERS = 15_000  # key range of the writer's warm-up table


def _dml_stream(r, table, n_ops, n_orders):
    """A writer's seeded stream against `table`: a fixed rotation of
    statement shapes, so every stream sends the same sequence of kinds; the
    seed picks the key ranges. Inserts copy a key range under a shifted key;
    each delete removes the oldest inserted batch, so the live size stays
    flat. Updates and merges touch key ranges of the original rows, which
    are never deleted, and change only quantity and price."""
    ops = []
    live = []  # inserted batches (shifted key ranges), oldest first
    gen = 0
    rotation = ["select", "insert", "update", "select", "delete", "merge"]
    for j in range(n_ops):
        kind = rotation[j % len(rotation)]
        if kind == "select":
            a = r.randrange(n_orders - 2000)
            sql = ("SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q, sum(price) AS p "
                   "FROM %s WHERE l_orderkey BETWEEN %d AND %d GROUP BY l_returnflag"
                   % (table, a, a + 2000))
            ops.append((sql, sql, "read"))
        elif kind == "insert":
            a = r.randrange(n_orders - 10)
            gen += 1
            off = INSERT_OFFSET * gen
            sql = ("INSERT INTO %s SELECT l_orderkey + %d, l_linenumber, l_partkey, "
                   "CAST(l_quantity AS BIGINT), CAST(l_extendedprice AS DECIMAL(12,2)), "
                   "l_returnflag FROM lineitem WHERE l_orderkey BETWEEN %d AND %d"
                   % (table, off, a, a + 10))
            live.append((a + off, a + off + 10))
            ops.append((sql, sql, "write"))
        elif kind == "delete":
            lo, hi = live.pop(0)
            sql = "DELETE FROM %s WHERE l_orderkey BETWEEN %d AND %d" % (table, lo, hi)
            ops.append((sql, sql, "write"))
        elif kind == "update":
            a = r.randrange(n_orders - 20)
            sql = ("UPDATE %s SET l_quantity = l_quantity + 1 "
                   "WHERE l_orderkey BETWEEN %d AND %d" % (table, a, a + 20))
            ops.append((sql, sql, "write"))
        else:
            a = r.randrange(n_orders - 10)
            src = ("SELECT l_orderkey, l_linenumber, CAST(l_extendedprice AS DECIMAL(12,2)) AS price "
                   "FROM lineitem WHERE l_orderkey BETWEEN %d AND %d" % (a, a + 10))
            trino = ("MERGE INTO %s t USING (%s) s "
                     "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber "
                     "WHEN MATCHED THEN UPDATE SET price = s.price + 1" % (table, src))
            duck = ("UPDATE %s SET price = s.price + 1 FROM (%s) s "
                    "WHERE %s.l_orderkey = s.l_orderkey AND %s.l_linenumber = s.l_linenumber"
                    % (table, src, table, table))
            ops.append((trino, duck, "write"))
    return ops


def cow_dml(seed, n_ops=600, readers=3, per_reader=3000):
    """One writer beside reader clients, on a CoW copy of lineitem. The
    writer warms up on a second, smaller CoW table, so the measured stream
    on `cow_t` starts at its first op in every run. The readers run the
    dashboard templates over the fixture tables plus key-range counts and
    key sums over original rows of `cow_t`, which are the same in every
    snapshot the writer publishes."""
    cow_read = ("cow_range", lambda rr: {"k": rr.randrange(N_ORDERS - 2000)},
                "SELECT count(*) AS n, sum(l_partkey) AS pk, max(l_linenumber) AS ln "
                "FROM cow_t WHERE l_orderkey BETWEEN {k} AND {k} + 2000", None)
    reader_templates = _templates() + [cow_read]
    # key-ordered files, so key-range ops touch few files and reads prune
    setup = ("CREATE OR REPLACE TABLE cow_t AS SELECT %s FROM lineitem "
             "ORDER BY l_orderkey, l_linenumber" % COW_COLUMNS)
    warm_setup = ("CREATE OR REPLACE TABLE cow_w AS SELECT %s FROM lineitem "
                  "WHERE l_orderkey < %d ORDER BY l_orderkey, l_linenumber" % (COW_COLUMNS, WARM_ORDERS))
    return {"setup": [setup, warm_setup], "duck_setup": setup,
            "ops": _dml_stream(random.Random(seed), "cow_t", n_ops, N_ORDERS),
            "warm_ops": [t for t, _, _ in
                         _dml_stream(random.Random(seed * 7919 + 3), "cow_w", n_ops, WARM_ORDERS)],
            "readers": [_mix(reader_templates, seed * 31 + c, per_reader) for c in range(readers)]}
