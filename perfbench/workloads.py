"""The serving workload's request mix, drawn from the seed.

Each request is a dict with the HTTP path and body the client sends, plus
what the checker needs: the filter as (field, op, value) terms, the exact
row field set, the limit and the collection. NL texts are worded so the
reference's keyword rules map them to the stated terms; find-specs are
sometimes damaged (fences, single quotes, bare keys, prose) so the repair
cascade runs.
"""
import json
import re

from datagen import COLUMNS

DB = "bench"
ALL = frozenset(COLUMNS)


def _req(path, text, coll, terms, fields, limit):
    return {"path": path, "input": text, "collection": coll, "terms": terms,
            "fields": fields, "limit": limit}


def nl(text, coll, terms, limit, fields=ALL):
    return _req("/query", text, coll, terms, fields, limit)


def find_spec(rng, coll, filt, terms, limit, projection=None):
    spec = {"filter": filt}
    if projection:
        spec["projection"] = {f: 1 for f in projection}
    text = json.dumps(spec)
    damage = rng.choice(["none", "fence", "quotes", "bare", "prose"])
    if damage == "fence":
        text = "```json\n" + text + "\n```"
    elif damage == "quotes":
        text = text.replace('"', "'")
    elif damage == "bare":
        text = re.sub(r"'(\w+)':", r"\1:", text.replace('"', "'"))
    elif damage == "prose":
        text = "Sure, here is the find spec you asked for " + text + " hope it helps"
    fields = frozenset(projection) if projection else ALL
    return _req("/query/json", text, coll, terms, fields, limit)


KINDS = 9


def point_request(rng, coll, ids, k):
    """A selective request with limit 10; `k` picks one of KINDS shapes and
    `ids` is the range of emp_id values to draw keys from."""
    lim = 10
    if k == 0:
        n = rng.randrange(149000, 149900)
        return nl(f"Find employees earning more than {n}", coll, [("salary", "gt", n)], lim)
    if k == 1:
        n = rng.randrange(30100, 31000)
        return nl(f"Who has a salary below {n}", coll, [("salary", "lt", n)], lim)
    if k == 2:
        return nl("Show employees whose age is over 64", coll, [("age", "gt", 64)], lim)
    if k == 3:
        return nl("Show employees whose age is under 23", coll, [("age", "lt", 23)], lim)
    if k == 4:
        i = rng.choice(ids)
        return find_spec(rng, coll, {"emp_id": {"$eq": i}}, [("emp_id", "eq", i)], lim)
    if k == 5:
        keys = sorted(rng.sample(ids, rng.randrange(2, 6)))
        return find_spec(rng, coll, {"emp_id": {"$in": keys}}, [("emp_id", "in", keys)],
                         lim, ["name", "salary"])
    if k == 6:
        a = rng.randrange(30000, 149000)
        return find_spec(rng, coll, {"salary": {"$gt": a, "$lt": a + 300}},
                         [("salary", "gt", a), ("salary", "lt", a + 300)], lim)
    if k == 7:
        a = rng.randrange(22, 66)
        return find_spec(rng, coll, {"age": {"$gte": a, "$lte": a},
                                     "experience_years": {"$lt": 2}},
                         [("age", "gte", a), ("age", "lte", a),
                          ("experience_years", "lt", 2)], lim)
    a = rng.randrange(30000, 149000)
    return find_spec(rng, coll, {"salary": {"$gte": a, "$lte": a + 200}},
                     [("salary", "gte", a), ("salary", "lte", a + 200)], lim,
                     ["name", "salary", "department"])


def pool(make, kinds, rounds, rng):
    """`rounds` rounds of one request of every kind, each round in a seeded
    order: any stretch of the list sends every kind about equally often, so
    the mix, not just its values, is the same in every run."""
    reqs = []
    for _ in range(rounds):
        reqs += [make(k) for k in rng.sample(range(kinds), kinds)]
    return reqs


def body(r):
    return {"input": r["input"], "db": DB, "collection": r["collection"],
            "limit": r["limit"]}
