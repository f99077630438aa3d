"""Seeded statement script for the service workload.

Each client gets its own stream: every block of five statements holds one
write to the client's own table (INSERT or DELETE, keeping the table
between MIN_ROWS and MAX_ROWS rows), two DuckDB-dialect point lookups or
small aggregates over the corpus, and two reads of the client's own
table; reads go to all nodes in turn. Every statement text is unique (the
reads carry a per-statement column alias), so it can key its spans.

The corpus-read templates and, between the row bounds, INSERT and DELETE
are dealt from shuffled decks rather than drawn independently, so every
seed runs each kind about equally often: drawn independently, one
template's share of a run's corpus reads varied from 4 to 14 of 42
between seeds, and the runs' CPU per statement spread by 0.15."""
import random

CLIENTS = 3
NODES = 3
OPS_PER_CLIENT = 600
BLOCK = 5
MIN_ROWS, MAX_ROWS = 4, 12
# key ranges of the committed sf0.01 corpus (dense, from 0)
CUSTOMERS, ORDERS, NATIONS = 1500, 15000, 25

WORDS = ["alpha", "bravo", "it's", "delta", "echo", "fox trot", "golf", ""]


def deck(rng, items):
    """Endless draws from `items`: each round deals all of them once, in
    a seeded order."""
    while True:
        d = list(items)
        rng.shuffle(d)
        yield from d


def corpus_read(rng, tag, template):
    k = rng.randrange
    return [
        lambda: f"SELECT c_name AS name_{tag}, c_mktsegment FROM customer "
                f"WHERE c_custkey = {k(CUSTOMERS)}",
        lambda: f"SELECT count(*) AS n_{tag} FROM orders WHERE o_custkey = {k(CUSTOMERS)}",
        lambda: f"SELECT l_linenumber AS ln_{tag}, l_quantity, l_returnflag FROM lineitem "
                f"WHERE l_orderkey = {k(ORDERS)} ORDER BY l_linenumber",
        lambda: (lambda a: f"SELECT o_orderpriority AS p_{tag}, count(*) AS n FROM orders "
                           f"WHERE o_custkey BETWEEN {a} AND {a + 40} "
                           f"GROUP BY o_orderpriority ORDER BY o_orderpriority")(k(CUSTOMERS)),
        lambda: f"SELECT n_name AS nation_{tag}, strlen(n_name) AS len FROM nation "
                f"WHERE n_nationkey = {k(NATIONS)}",
    ][template]()


TEMPLATES = 5


def client_ops(seed, client, n=OPS_PER_CLIENT):
    """[(kind, node, sql)] for one client; the same seed gives the same list.

    The proportions are fixed, only their order and content are seeded:
    each block holds one write, two corpus reads and two own-table reads,
    and the client's reads go to the nodes in turn."""
    rng = random.Random(f"perfbench-service:{seed}:{client}")
    live, next_id, ops, reads = [], 0, [], 0
    table = f"t_c{client}"
    templates, grows = deck(rng, range(TEMPLATES)), deck(rng, (True, False))
    while len(ops) < n:
        kinds = ["write", "read_corpus", "read_corpus", "read_own", "read_own"]
        rng.shuffle(kinds)
        for kind in kinds:
            tag = f"{client}_{len(ops)}"
            if kind == "write":
                grow = len(live) < MIN_ROWS or (len(live) < MAX_ROWS and next(grows))
                if grow:
                    v = f"c{client}-{next_id}-{rng.choice(WORDS)}".replace("'", "''")
                    ops.append(("write_insert", 0,
                                f"INSERT INTO {table} VALUES ({next_id}, '{v}')"))
                    live.append(next_id)
                    next_id += 1
                else:
                    x = live.pop(rng.randrange(len(live)))
                    ops.append(("write_delete", 0, f"DELETE FROM {table} WHERE id = {x}"))
                continue
            node = (reads + client) % NODES
            reads += 1
            if kind == "read_corpus":
                ops.append((kind, node, corpus_read(rng, tag, next(templates))))
            else:
                ops.append((kind, node, f"SELECT id, v AS v_{tag} FROM {table} ORDER BY id"))
    return ops[:n]


def script(seed):
    """All clients' ops as (client, idx, kind, node, sql) rows."""
    return [(c, i, k, node, sql)
            for c in range(CLIENTS)
            for i, (k, node, sql) in enumerate(client_ops(seed, c))]


def write_tsv(rows, path):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            assert "\t" not in r[4] and "\n" not in r[4]
            f.write("\t".join(str(x) for x in r) + "\n")
