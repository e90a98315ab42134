"""Seeded request lists for the serving workloads, with their oracles.

Every request carries the DuckDB SQL that computes its expected answer
over the `triples` table (graft's `TpchRdf.oracleCte` materialized over
the benchmark's data), or, for the probes that follow a write, the
answer the benchmark's own model of the written triples predicts.

The data is fixed (`data/sf0.01`, the project's sf 0.01 test tables);
the seed chooses only constants, request order and written triples.
"""
import random
import zlib

# value domains of the sf 0.01 tables the constants are drawn from
N_ORDERS = 15000  # o_orderkey 0 .. 14999
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
READ_SHAPES = ["describe", "star_filter", "chain", "optional", "group_by",
               "path", "ask", "large_select"]
WRITE_KINDS = ["insert_data", "delete_insert_where", "delete_data"]


def read_request(shape, rng):
    """One read of `shape` with seeded constants."""
    nation = rng.randrange(25)
    if shape == "describe":
        k = rng.randrange(N_ORDERS)
        return {"query": f"DESCRIBE o:{k}", "graph": True,
                "sql": f"SELECT s, p, o FROM triples WHERE s = 'o:{k}'"}
    if shape == "star_filter":
        bal = rng.randrange(0, 5000)
        return {"query": "SELECT ?c ?name ?bal WHERE { ?c type \"Customer\" . "
                         f"?c nation n:{nation} . ?c name ?name . ?c acctbal ?bal . "
                         f"FILTER(?bal > {bal}) }}",
                "sql": "SELECT t.s, nm.o, b.o FROM triples t "
                       f"JOIN triples n ON n.s = t.s AND n.p = 'nation' AND n.o = 'n:{nation}' "
                       "JOIN triples nm ON nm.s = t.s AND nm.p = 'name' "
                       "JOIN triples b ON b.s = t.s AND b.p = 'acctbal' "
                       f"WHERE t.p = 'type' AND t.o = 'Customer' AND CAST(b.o AS DOUBLE) > {bal}"}
    if shape == "chain":
        region, prio = rng.randrange(5), rng.choice(PRIORITIES)
        return {"query": "SELECT ?o ?c WHERE { ?o customer ?c . ?c nation ?n . "
                         f"?n region r:{region} . ?o priority \"{prio}\" }}",
                "sql": "SELECT o.s, o.o FROM triples o "
                       "JOIN triples cn ON cn.s = o.o AND cn.p = 'nation' "
                       f"JOIN triples nr ON nr.s = cn.o AND nr.p = 'region' AND nr.o = 'r:{region}' "
                       f"JOIN triples pr ON pr.s = o.s AND pr.p = 'priority' AND pr.o = '{prio}' "
                       "WHERE o.p = 'customer'"}
    if shape == "optional":
        return {"query": f"SELECT ?s ?name ?seg WHERE {{ ?s nation n:{nation} . "
                         "?s name ?name . OPTIONAL { ?s mktsegment ?seg } }",
                "sql": "SELECT n.s, nm.o, sg.o FROM triples n "
                       "JOIN triples nm ON nm.s = n.s AND nm.p = 'name' "
                       "LEFT JOIN triples sg ON sg.s = n.s AND sg.p = 'mktsegment' "
                       f"WHERE n.p = 'nation' AND n.o = 'n:{nation}'"}
    if shape == "group_by":
        return {"query": "SELECT ?seg (COUNT(?c) AS ?n) WHERE { "
                         f"?c nation n:{nation} . ?c mktsegment ?seg }} GROUP BY ?seg",
                "sql": "SELECT sg.o, CAST(COUNT(*) AS VARCHAR) FROM triples n "
                       "JOIN triples sg ON sg.s = n.s AND sg.p = 'mktsegment' "
                       f"WHERE n.p = 'nation' AND n.o = 'n:{nation}' GROUP BY sg.o"}
    if shape == "path":
        seg = rng.choice(SEGMENTS)
        return {"query": f"SELECT ?c ?r WHERE {{ ?c mktsegment \"{seg}\" . ?c nation/region ?r }}",
                "sql": "SELECT m.s, nr.o FROM triples m "
                       "JOIN triples cn ON cn.s = m.s AND cn.p = 'nation' "
                       "JOIN triples nr ON nr.s = cn.o AND nr.p = 'region' "
                       f"WHERE m.p = 'mktsegment' AND m.o = '{seg}'"}
    if shape == "ask":
        k, region = rng.randrange(N_ORDERS), rng.randrange(5)
        return {"query": f"ASK {{ o:{k} customer ?c . ?c nation ?n . ?n region r:{region} }}",
                "ask": True,
                "sql": "SELECT COUNT(*) > 0 FROM triples o "
                       "JOIN triples cn ON cn.s = o.o AND cn.p = 'nation' "
                       f"JOIN triples nr ON nr.s = cn.o AND nr.p = 'region' AND nr.o = 'r:{region}' "
                       f"WHERE o.s = 'o:{k}' AND o.p = 'customer'"}
    if shape == "large_select":
        flag = rng.choice(["A", "N", "R"])
        return {"query": f"SELECT ?l ?q WHERE {{ ?l returnflag \"{flag}\" . ?l quantity ?q }}",
                "sql": "SELECT a.s, q.o FROM triples a "
                       "JOIN triples q ON q.s = a.s AND q.p = 'quantity' "
                       f"WHERE a.p = 'returnflag' AND a.o = '{flag}'"}
    raise ValueError(shape)


class WriteModel:
    """The triples the benchmark has written, so that the read probing
    each write knows its answer. Writes touch only the benchmark's own
    subjects (`w:<n>`) and predicates (`tag`, `ver`), which no read
    shape matches, so the read oracles stay those of the base data."""

    def __init__(self, id_base):
        self.next_id = id_base
        self.tags = {}  # subject -> current tag (subjects with a tag)

    def insert(self, rng):
        s = f"w:{self.next_id}"
        self.next_id += 1
        t = f"t{rng.randrange(10**6)}"
        self.tags[s] = t
        return ({"update": f'INSERT DATA {{ {s} tag "{t}" . {s} ver "1" }}', "stmts": 2},
                {"query": f"SELECT ?t WHERE {{ {s} tag ?t }}", "expect_rows": [(t,)]})

    def modify(self, rng):
        s = rng.choice(sorted(self.tags))
        t = f"t{rng.randrange(10**6)}"
        self.tags[s] = t
        return ({"update": f'DELETE {{ {s} tag ?t }} INSERT {{ {s} tag "{t}" }} '
                           f'WHERE {{ {s} tag ?t }}', "stmts": 2},
                {"query": f"SELECT ?t WHERE {{ {s} tag ?t }}", "expect_rows": [(t,)]})

    def delete(self, rng):
        s = rng.choice(sorted(self.tags))
        t = self.tags.pop(s)
        return ({"update": f'DELETE DATA {{ {s} tag "{t}" }}', "stmts": 1},
                {"query": f'ASK {{ {s} tag "{t}" }}', "expect_bool": False})


def _read(shape, rng):
    r = read_request(shape, rng)
    r.update(kind="read", shape=shape)
    return r


def read_pass(rng):
    """Each of the eight read shapes once, with seeded constants, in
    seeded order."""
    shapes = list(READ_SHAPES)
    rng.shuffle(shapes)
    return [_read(s, rng) for s in shapes]


def rw_pass(rng, wrng, model):
    """The read pass with the three writes spliced in at seeded places,
    in the order INSERT DATA, DELETE/INSERT WHERE, DELETE DATA (all on
    one fresh subject), each followed at once by the read that probes
    it. Read constants and places come from `rng`, written triples from
    `wrng`."""
    ops = read_pass(rng)
    at = sorted(rng.randrange(len(ops) + 1) for _ in WRITE_KINDS)
    writes = [(kind, *make(wrng)) for kind, make in
              zip(WRITE_KINDS, (model.insert, model.modify, model.delete))]
    # splice from the back, so the earlier places stay where they were
    for pos, (kind, w, probe) in reversed(list(zip(at, writes))):
        ops[pos:pos] = [dict(w, kind="write", shape=kind),
                        dict(probe, kind="probe", shape=kind + "_probe")]
    return ops


def requests(workload, seed, passes, stream="measure", reads=None):
    """`passes` passes of the workload's request cycle for one seed.
    Warm-up, measured and traced requests come from separate seeded
    streams (`stream`), so a warm-up does not pre-run the measured
    list, and each stream writes its own subjects (several share a
    store). `reads` names another stream whose reads (constants, order
    and write places) to reuse: the traced pass repeats the first
    measured pass's reads, so that the two can be compared request by
    request."""
    rng = random.Random(f"{workload}:{seed}:{reads or stream}")
    wrng = random.Random(f"{workload}:{seed}:{stream}:writes")
    model = WriteModel(zlib.crc32(f"{seed}:{stream}".encode()) * 1000)
    return [read_pass(rng) if workload == "sparql_read" else rw_pass(rng, wrng, model)
            for _ in range(passes)]


def warmup(workload, seed):
    """The warm-up pass: every read shape, then (sparql_rw) the three
    writes back to back and the read that probes the last of them. It
    runs every request kind once, at two merged-view builds fewer than
    a measured pass, since only the last write's version is read."""
    ops = requests(workload, seed, 1, "warmup")[0]
    probes = [o for o in ops if o["kind"] == "probe"]
    return [[o for o in ops if o["kind"] == "read"]
            + [o for o in ops if o["kind"] == "write"] + probes[-1:]]

