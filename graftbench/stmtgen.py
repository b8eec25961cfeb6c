"""Seeded grapho scripts for the `statements` workload, and the
driver-side model that says what each one must return.

The model is the reference's own data structure, a map of maps: label
-> node id -> field -> value (edges also keep their endpoints). It
applies every statement the way graft's Interpreter does: ids are one
counter shared by nodes and edges, INSERT EDGE resolves an endpoint by
id or by the smallest id whose properties match, UPDATE/DELETE/MATCH
use null-safe equality in WHERE, and ALTER NODE ADD appends a null
column.

Usage: python3 stmtgen.py <out_dir> <seed>
writes setup.txt, warm.txt and body.txt (`kind<TAB>statement` lines).
"""
import os
import random
import sys

# The timed body is a sequence of blocks of BLOCK statements, each the
# same multiset of (kind, variant) in seeded order, so every run of
# whole blocks has exactly this mix. The variants cost differently (a
# MATCH on Person by city ran in 79 ms, an UPDATE of Item prices in
# 117 ms), so when they were drawn at random the median statement
# followed the seed: 108-125 ms on one seed, 86-91 ms on another, over
# three runs each. INSERT NODE is buffered on the Spark driver
# (sub-millisecond); every other kind runs Spark jobs. With 20% fast
# statements, the median of all statements falls inside the MATCH /
# UPDATE / DELETE group, and the write median (insert_node is 4 of 13
# writes) inside the Spark-job writes, never on a group boundary. The
# block's one DELETE removes a person in even blocks and edges in odd
# ones.
BLOCK_MIX = [("insert_node", "person", 2), ("insert_node", "item", 2),
             ("insert_edge", "bought", 3), ("insert_edge", "knows", 2),
             ("update", "person", 1), ("update", "item", 1), ("update", "bought", 1),
             ("delete", None, 1),
             ("match", "city", 3), ("match", "age", 2), ("match", "cat_ret", 1),
             ("match", "cat", 1)]
BLOCK = sum(n for _, _, n in BLOCK_MIX)  # the harness's Statements.Block
N_BLOCKS = 20
PRELOAD_PERSONS = 40
PRELOAD_ITEMS = 20
N_CITIES = 6
N_CATS = 5

DDL = [
    "CREATE NODE Person (name: string, age: int, city: string);",
    "CREATE NODE Item (title: string, price: int, cat: string);",
    "CREATE EDGE Bought (FROM Person MANY, TO Item MANY, PROPS (qty: int));",
    "CREATE EDGE Knows (FROM Person MANY, TO Person MANY);",
]


def lit(v):
    if v is None:
        return "null"
    if isinstance(v, str):
        return "'" + v + "'"
    return str(v)


def canon(v):
    return lit(v)


class Model:
    def __init__(self):
        self.fields = {}      # node label -> [field, ...]
        self.props = {}       # edge label -> [prop, ...]
        self.nodes = {}       # label -> {id: {field: value}}
        self.edges = {}       # label -> {id: (src, dst, {prop: value})}
        self.next_id = 1

    def create_node(self, label, fields):
        self.fields[label] = list(fields)
        self.nodes[label] = {}

    def create_edge(self, label, props):
        self.props[label] = list(props)
        self.edges[label] = {}

    def add_field(self, label, field):
        self.fields[label].append(field)
        for row in self.nodes[label].values():
            row[field] = None

    def insert_node(self, label, values):
        i = self.next_id
        self.next_id += 1
        self.nodes[label][i] = {f: values.get(f) for f in self.fields[label]}
        return i

    def find(self, label, where):
        ids = [i for i, r in self.nodes[label].items()
               if all(r.get(k) == v for k, v in where.items())]
        return min(ids) if ids else None

    def insert_edge(self, label, src, dst, values):
        i = self.next_id
        self.next_id += 1
        self.edges[label][i] = (src, dst, {p: values.get(p) for p in self.props[label]})
        return i

    def update_nodes(self, label, set_field, value, where):
        for r in self.nodes[label].values():
            if all(r.get(k) == v for k, v in where.items()):
                r[set_field] = value

    def update_edges(self, label, set_prop, value, where):
        for _, _, p in self.edges[label].values():
            if all(p.get(k) == v for k, v in where.items()):
                p[set_prop] = value

    def delete_nodes(self, label, where):
        t = self.nodes[label]
        for i in [i for i, r in t.items() if all(r.get(k) == v for k, v in where.items())]:
            del t[i]

    def delete_edges(self, label, where):
        t = self.edges[label]
        for i in [i for i, (_, _, p) in t.items()
                  if all(p.get(k) == v for k, v in where.items())]:
            del t[i]

    def match(self, label, where, ret):
        cols = ret or (["_id"] + self.fields[label])
        out = []
        for i, r in self.nodes[label].items():
            if all(r.get(k) == v for k, v in where.items()):
                row = dict(r, _id=i)
                out.append("|".join(canon(row[c]) for c in cols))
        return sorted(out)

    def dump(self):
        lines = []
        for label in sorted(self.nodes):
            for i, r in self.nodes[label].items():
                vals = [canon(i)] + [canon(r[f]) for f in self.fields[label]]
                lines.append(f"N:{label}\t" + "|".join(vals))
        for label in sorted(self.edges):
            for i, (s, d, p) in self.edges[label].items():
                vals = [canon(i), canon(s), canon(d)] + [canon(p[x]) for x in self.props[label]]
                lines.append(f"E:{label}\t" + "|".join(vals))
        return sorted(lines)


def _where(d):
    return "" if not d else " WHERE " + ", ".join(f"{k}: {lit(v)}" for k, v in d.items())


class Gen:
    """Emits statements and applies each to the model as it goes."""

    def __init__(self, rng):
        self.rng = rng
        self.m = Model()
        self.n_person = 0
        self.n_item = 0
        self.n_edge = {"bought": 0, "knows": 0}
        self.altered = False

    def ddl(self):
        out = []
        self.m.create_node("Person", ["name", "age", "city"])
        self.m.create_node("Item", ["title", "price", "cat"])
        self.m.create_edge("Bought", ["qty"])
        self.m.create_edge("Knows", [])
        for s in DDL:
            out.append(("ddl", s))
        return out

    def person(self):
        r = self.rng
        self.n_person += 1
        v = {"name": f"p{self.n_person}", "age": r.randint(18, 70),
             "city": f"c{r.randrange(N_CITIES)}"}
        self.m.insert_node("Person", v)
        return ("insert_node", "INSERT NODE Person (" +
                ", ".join(f"{k}: {lit(x)}" for k, x in v.items()) + ");")

    def item(self):
        r = self.rng
        self.n_item += 1
        v = {"title": f"t{self.n_item}", "price": r.randint(1, 100),
             "cat": f"k{r.randrange(N_CATS)}"}
        if self.altered and r.random() < 0.5:
            v["stock"] = r.randint(0, 20)
        self.m.insert_node("Item", v)
        return ("insert_node", "INSERT NODE Item (" +
                ", ".join(f"{k}: {lit(x)}" for k, x in v.items()) + ");")

    def _ref(self, label, key, by_id):
        """An endpoint reference to a live node: by id or by its key field."""
        r = self.rng
        ids = sorted(self.m.nodes[label])
        i = r.choice(ids)
        if by_id:
            return i, f"{label} ({i})"
        name = self.m.nodes[label][i][key]
        return self.m.find(label, {key: name}), f"{label} ({key}: {lit(name)})"

    def edge(self, variant):
        """A Bought or Knows edge; each label's edges reference their
        endpoints by (id, id), (id, key), (key, id) and (key, key) in turn."""
        r = self.rng
        n = self.n_edge[variant]
        by_id = (n % 4 < 2, n % 2 == 0)
        self.n_edge[variant] += 1
        if variant == "bought":
            s, sref = self._ref("Person", "name", by_id[0])
            d, dref = self._ref("Item", "title", by_id[1])
            q = r.randint(1, 5)
            self.m.insert_edge("Bought", s, d, {"qty": q})
            return ("insert_edge", f"INSERT EDGE Bought FROM {sref} TO {dref} (qty: {q});")
        s, sref = self._ref("Person", "name", by_id[0])
        d, dref = self._ref("Person", "name", by_id[1])
        self.m.insert_edge("Knows", s, d, {})
        return ("insert_edge", f"INSERT EDGE Knows FROM {sref} TO {dref};")

    def update(self, variant):
        r = self.rng
        if variant == "person":
            city, age = f"c{r.randrange(N_CITIES)}", r.randint(18, 70)
            self.m.update_nodes("Person", "age", age, {"city": city})
            return ("update", f"UPDATE NODE Person SET age: {age}{_where({'city': city})};")
        if variant == "item":
            cat, price = f"k{r.randrange(N_CATS)}", r.randint(1, 100)
            self.m.update_nodes("Item", "price", price, {"cat": cat})
            return ("update", f"UPDATE NODE Item SET price: {price}{_where({'cat': cat})};")
        q0, q1 = r.randint(1, 5), r.randint(1, 5)
        self.m.update_edges("Bought", "qty", q1, {"qty": q0})
        return ("update", f"UPDATE EDGE Bought SET qty: {q1}{_where({'qty': q0})};")

    def delete(self, variant):
        r = self.rng
        if variant == "node" and len(self.m.nodes["Person"]) > 10:
            name = self.m.nodes["Person"][r.choice(sorted(self.m.nodes["Person"]))]["name"]
            self.m.delete_nodes("Person", {"name": name})
            return ("delete", f"DELETE NODE Person{_where({'name': name})};")
        q = r.randint(1, 5)
        self.m.delete_edges("Bought", {"qty": q})
        return ("delete", f"DELETE EDGE Bought{_where({'qty': q})};")

    def match(self, variant):
        r = self.rng
        if variant == "city":
            where, ret = {"city": f"c{r.randrange(N_CITIES)}"}, ["name", "age"]
            label = "Person"
        elif variant == "age":
            where, ret = {"age": r.randint(18, 70)}, []
            label = "Person"
        else:
            where, ret = ({"cat": f"k{r.randrange(N_CATS)}"},
                          ["title", "price"] if variant == "cat_ret" else [])
            label = "Item"
        rows = self.m.match(label, where, ret)
        tail = f" RETURN {', '.join(ret)}" if ret else ""
        return ("match", f"MATCH {label}{_where(where)}{tail};"), rows

    def alter(self):
        self.altered = True
        self.m.add_field("Item", "stock")
        return ("ddl", "ALTER NODE Item ADD stock: int;")


def script(seed, n=None):
    """The setup, warm-up and the first n body statements for a seed
    (all of them by default), the expected rows of every MATCH among them
    (by body index), and the model state after them. The second block
    opens with ALTER NODE Item ADD stock in place of one insert."""
    rng = random.Random(seed)
    g = Gen(rng)
    setup = g.ddl()
    setup += [g.person() for _ in range(PRELOAD_PERSONS)]
    setup += [g.item() for _ in range(PRELOAD_ITEMS)]
    kinds = []
    for b in range(N_BLOCKS):
        block = [(k, v if k != "delete" else ("node", "edge")[b % 2])
                 for k, v, c in BLOCK_MIX for _ in range(c)]
        rng.shuffle(block)
        if b == 1:
            block.remove(("insert_node", "item"))
            block.insert(0, ("alter", None))
        kinds += block
    body, expect = [], {}
    for i, (k, v) in enumerate(kinds[:n]):
        if k == "alter":
            body.append(g.alter())
        elif k == "insert_node":
            body.append(g.person() if v == "person" else g.item())
        elif k == "insert_edge":
            body.append(g.edge(v))
        elif k == "update":
            body.append(g.update(v))
        elif k == "delete":
            body.append(g.delete(v))
        else:
            stmt, rows = g.match(v)
            expect[i] = rows
            body.append(stmt)
    # the warm-up script: a small, differently seeded script of the same kinds
    w = Gen(random.Random(seed ^ 0x5EED))
    warm = w.ddl() + [w.person() for _ in range(6)] + [w.item() for _ in range(4)]
    for j in range(6):
        warm += [w.edge(("bought", "knows")[j % 2]), w.update(("person", "item", "bought")[j % 3]),
                 w.match(("city", "age", "cat_ret", "cat")[j % 4])[0],
                 w.delete(("node", "edge")[j % 2]), w.person()]
    return setup, warm, body, expect, g.m


def write(out_dir, seed):
    setup, warm, body, _, _ = script(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, stmts in (("setup", setup), ("warm", warm), ("body", body)):
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.writelines(f"{k}\t{s}\n" for k, s in stmts)


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
