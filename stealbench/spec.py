"""The subset steal, stated once for both sides.

`config_toml` renders it as the klepto config the program reads; `EXPECT`
states the same subset as DuckDB predicates over the source tables, which
is what `check.py` recomputes the expected output from. The seed picks the
market segment, the anonymisation secret and the visit order.
"""
import random

from lake import DB_TABLES, SEGMENTS, TABLES

EVENTS_LIMIT = 50000
EVENTS_MIN_VALUE = 20.0
SEGMENT_LITERAL = "SEGMENT"
EVENT_LITERAL = "event"

# The registered queries of the `queries` workload: klepto-shaped ones near
# the scheduler floor (k5), and operator queries the roadmap's registry,
# checkpoint and persisted-index directions act on (ns1, ns6, ns82). Sized
# so a comparison's runs fit their time budget on a slow host (NOTES.md has
# the per-query times of the wider set it was cut from).
QUERIES = ["k5", "ns1", "ns6", "ns82"]


def params(seed):
    """Segment, secret and visit orders derived from the seed."""
    rng = random.Random(seed)
    segment = rng.choice(SEGMENTS)
    secret = f"s{rng.getrandbits(48):012x}"
    tables = list(TABLES)
    rng.shuffle(tables)
    queries = list(QUERIES)
    rng.shuffle(queries)
    return {"segment": segment, "secret": secret, "table_order": tables,
            "query_order": queries}


def segment_sql(segment):
    return f"c_mktsegment = '{segment}'"


# table -> (DuckDB WHERE/ORDER/LIMIT tail over the source, anonymised
# columns as {column: "faker" | "literal:<v>"}, ignore_data)
def expect(segment):
    seg = segment_sql(segment)
    cust = f"SELECT c_custkey FROM customer WHERE {seg}"
    orders = f"SELECT o_orderkey FROM orders WHERE o_custkey IN ({cust})"
    return {
        "customer": (f"WHERE {seg}",
                     {"c_name": "faker",
                      "c_mktsegment": f"literal:{SEGMENT_LITERAL}"}, False),
        "orders": (f"WHERE o_custkey IN ({cust})", {}, False),
        "lineitem": (f"WHERE l_orderkey IN ({orders})", {}, False),
        "events": (f"WHERE value >= {EVENTS_MIN_VALUE} "
                   f"ORDER BY event_id DESC LIMIT {EVENTS_LIMIT}",
                   {"props": "faker", "event_type": f"literal:{EVENT_LITERAL}"},
                   False),
        "supplier": ("", {"s_name": "faker"}, False),
        "documents": ("", {}, True),
        "embeddings": ("", {}, True),
        "region": ("", {}, False),
        "nation": ("", {}, False),
        "part": ("", {}, False),
    }


def config_toml(segment, table_order, upper=False):
    """The subset config. `upper` spells table and column names the way
    Derby's catalog does; the db workload has no documents/embeddings."""
    def n(s):
        return s.upper() if upper else s
    pred = f"{n('customer')}.{n('c_mktsegment')} = '{segment}'"
    blocks = {
        "customer": f'''[[Tables]]
  Name = "{n('customer')}"
  [Tables.Filter]
    Match = "Segment"
  [Tables.Anonymise]
    {n('c_name')} = "FullName"
    {n('c_mktsegment')} = "literal:{SEGMENT_LITERAL}"
''',
        "orders": f'''[[Tables]]
  Name = "{n('orders')}"
  [Tables.Filter]
    Match = "Segment"
  [[Tables.Relationships]]
    ForeignKey = "{n('o_custkey')}"
    ReferencedTable = "{n('customer')}"
    ReferencedKey = "{n('c_custkey')}"
''',
        "lineitem": f'''[[Tables]]
  Name = "{n('lineitem')}"
  [Tables.Filter]
    Match = "Segment"
  [[Tables.Relationships]]
    ForeignKey = "{n('l_orderkey')}"
    ReferencedTable = "{n('orders')}"
    ReferencedKey = "{n('o_orderkey')}"
  [[Tables.Relationships]]
    Table = "{n('orders')}"
    ForeignKey = "{n('o_custkey')}"
    ReferencedTable = "{n('customer')}"
    ReferencedKey = "{n('c_custkey')}"
''',
        "events": f'''[[Tables]]
  Name = "{n('events')}"
  [Tables.Filter]
    Match = "{n('events')}.{n('value')} >= {EVENTS_MIN_VALUE}"
    Limit = {EVENTS_LIMIT}
    [Tables.Filter.Sorts]
      "{n('events')}.{n('event_id')}" = "desc"
  [Tables.Anonymise]
    {n('props')} = "Sentence"
    {n('event_type')} = "literal:{EVENT_LITERAL}"
''',
        "supplier": f'''[[Tables]]
  Name = "{n('supplier')}"
  [Tables.Anonymise]
    {n('s_name')} = "Company"
''',
        "documents": f'''[[Tables]]
  Name = "{n('documents')}"
  IgnoreData = true
''',
        "embeddings": f'''[[Tables]]
  Name = "{n('embeddings')}"
  IgnoreData = true
''',
    }
    keep = [t for t in table_order if t in blocks and (not upper or t in DB_TABLES)]
    return (f'[Matchers]\n  Segment = "{pred}"\n\n' +
            "\n".join(blocks[t] for t in keep))
