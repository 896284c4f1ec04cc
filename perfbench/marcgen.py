"""Seeded ISO 2709 batch generator for the reservoir workload, with its own
ground truth.

A seed gives the same files byte for byte and the same expected cluster
membership. Membership comes from a union-find over the keys this module
generated, not from the program under test: every record version is one
node, records sharing a key are joined, and deleted records stay in the
union-find because the store never forgets a match value (components never
split). A cluster document shows, per source, only the records at that
source's highest version within the cluster.

Two pools are modelled: ``goldrush`` (one key per record: its work, since
works differ in a title token that survives GoldRush normalisation) and
``isbn`` (the 020 $a values, so bridging records merge clusters).
"""
import os
import random

# Shape taken from the repository's PALCI model (graft.tools.IngestBench):
# 20 member sources, and about three records per cluster, after the
# reference's design notes of ~3 match entries per bib (110 M match entries
# over 36 M bibs, database/create-shared-index-database.sql:51,97). A seed
# work is held by 1 to 5 distinct sources, three on average.
SOURCES = [f"SRC{i:02d}" for i in range(1, 21)]
CLUSTER_SIZES = (1, 2, 3, 4, 5)
POOLS = {
    "goldrush": "goldrush",
    "isbn": "jsonpath:$.marc.fields[*].020.subfields[*].a",
}
WORDS = ("river stone light garden winter harbor letters city night field "
         "memory silver house atlas voices north empire journey ocean").split()
PUBLISHERS = ["Acme Press", "Northfield", "Harbor Books", "Lumen", "Quarto"]

SEED_RECORDS = 2000
BATCH_RECORDS = 500
MAX_BATCHES = 16
# Batch k's shape is SHAPES[k % 3]: (sources, update share, delete share,
# merge share). The reference records no batch mix, so these shares are
# assumed; IngestBench's incremental batches come from one source, and a
# batch here comes from one to three. A fixed schedule makes runs with
# different seeds measure batches of the same mix (a run times the first
# batch, and the merge share alone moves a batch's time by ~15 %); the seed
# picks the sources, records, works and keys.
SHAPES = [(2, 0.2, 0.1, 0.1), (1, 0.3, 0.05, 0.15), (3, 0.1, 0.15, 0.05)]
MOVED_SHARE = 0.15      # updates whose new version is another work (assumed)


class UnionFind:
    def __init__(self):
        self.parent = {}

    def find(self, x):
        self.parent.setdefault(x, x)
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[ra] = rb


def _field(tag, value=None, subfields=()):
    return (tag, value, list(subfields))


def iso2709(fields, deleted=False):
    """One record in ISO 2709 (UTF-8, two indicators, 4500 entry map)."""
    bodies = []
    for tag, value, subfields in fields:
        if value is not None:
            body = value.encode("utf-8")
        else:
            body = b"  " + b"".join(b"\x1f" + c.encode() + v.encode("utf-8")
                                    for c, v in subfields)
        bodies.append((tag, body + b"\x1e"))
    directory = b""
    offset = 0
    for tag, body in bodies:
        directory += f"{tag}{len(body):04d}{offset:05d}".encode("ascii")
        offset += len(body)
    directory += b"\x1e"
    base = 24 + len(directory)
    total = base + offset + 1
    status = "d" if deleted else "n"
    leader = f"{total:05d}{status}am a22{base:05d} a 4500".encode("ascii")
    assert len(leader) == 24
    return leader + directory + b"".join(b for _, b in bodies) + b"\x1d"


class Generator:
    """Replays the seeded history: the seed store, then MAX_BATCHES batches.

    ``records`` maps (source, localId, version) to its keys per pool; the
    history is fixed by the seed alone, so check code can rebuild it.
    """

    def __init__(self, seed):
        self.rng = random.Random(seed * 7919 + 17)
        self.works = []          # work -> (title, author, year, publisher, pages, isbns)
        self.records = {}        # (src, lid, ver) -> {"work": w, "isbns": [...]}
        self.latest = {}         # (src, lid) -> highest version sent
        self.deleted = set()     # (src, lid) whose every version is gone
        self.versions = {s: 1 for s in SOURCES}
        self.live_lids = {s: [] for s in SOURCES}   # mutable local ids per source
        self.protected = []      # seed (src, lid) never updated nor deleted
        self.next_lid = {s: 0 for s in SOURCES}
        self.seed_files = []     # (name, bytes, source, version)
        self.batches = []        # [[(name, bytes, source, version)], ...]
        self.batch_stats = []    # per batch: counts per record class
        self.history = [0]       # len(self.records) after seed / each batch
        self.deleted_after = [set()]
        self._build()

    # ---- works and records ----

    def _new_work(self):
        w = len(self.works)
        rng = self.rng
        title = f"Zq{w:05d} " + " ".join(rng.choice(WORDS) for _ in range(3))
        author = f"Author{rng.randrange(400):03d}, {rng.choice(WORDS).title()}"
        isbns = [f"978{w:07d}{k}" for k in range(rng.choice([1, 1, 1, 2]))]
        self.works.append((title, author, 1900 + rng.randrange(120),
                           rng.choice(PUBLISHERS), 100 + rng.randrange(900),
                           isbns))
        return w

    def _any_work(self):
        return self.rng.randrange(len(self.works))

    def _lid(self, src):
        self.next_lid[src] += 1
        return f"{src}-{self.next_lid[src]:06d}"

    def _marc(self, src, lid, ver, work, isbns):
        title, author, year, publisher, pages, _ = self.works[work]
        fields = [_field("001", lid), _field("003", src)]
        fields += [_field("020", subfields=[("a", i)]) for i in isbns]
        fields += [
            _field("100", subfields=[("a", author)]),
            _field("245", subfields=[("a", title)]),
            _field("260", subfields=[("b", publisher), ("c", str(year))]),
            _field("300", subfields=[("a", f"{pages} p.")]),
            _field("500", subfields=[("a", f"Copy of {src} v{ver}")]),
        ]
        return iso2709(fields)

    def _add(self, out, src, lid, ver, work, isbns):
        self.records[(src, lid, ver)] = {"work": work, "isbns": list(isbns)}
        self.latest[(src, lid)] = ver
        out.append(self._marc(src, lid, ver, work, isbns))

    # ---- history ----

    def _build(self):
        rng = self.rng
        seed_out = {s: [] for s in SOURCES}
        n = 0
        while n < SEED_RECORDS:
            work = self._new_work()
            size = min(rng.choice(CLUSTER_SIZES), SEED_RECORDS - n)
            for src in rng.sample(SOURCES, size):
                lid = self._lid(src)
                isbns = list(self.works[work][5])
                roll = rng.random()
                if roll < 0.05:
                    isbns = []                      # isbn pool: a solo cluster
                elif roll < 0.08 and work > 0:      # seed-time bridge
                    isbns += self.works[rng.randrange(work)][5][:1]
                self._add(seed_out[src], src, lid, 1, work, isbns)
                if rng.random() < 0.15:
                    self.protected.append((src, lid))
                else:
                    self.live_lids[src].append(lid)
                n += 1
        self.seed_files = [(f"seed_{s}_v1.mrc", b"".join(seed_out[s]), s, 1)
                           for s in SOURCES if seed_out[s]]
        self.history = [len(self.records)]
        for k in range(MAX_BATCHES):
            self._batch(k)

    def _batch(self, k):
        rng = self.rng
        n_srcs, update_share, delete_share, merge_share = SHAPES[k % len(SHAPES)]
        per_src = BATCH_RECORDS // n_srcs
        # only sources that hold enough live records to update and delete,
        # so the batch's shape never depends on the seed
        need = int(per_src * update_share) + int(per_src * delete_share)
        srcs = rng.sample([s for s in SOURCES if len(self.live_lids[s]) >= need], n_srcs)
        stats = {"new": 0, "update": 0, "delete": 0, "bridge": 0, "moved": 0,
                 "deleted_versions": 0}
        files = []
        for src in srcs:
            self.versions[src] += 1
            ver = self.versions[src]
            out = []
            n_upd = int(per_src * update_share)
            n_del = int(per_src * delete_share)
            n_bridge = int(per_src * merge_share)
            pool = self.live_lids[src]
            rng.shuffle(pool)
            updates, deletes = pool[:n_upd], pool[n_upd:n_upd + n_del]
            del pool[n_upd:n_upd + n_del]
            n_moved = int(n_upd * MOVED_SHARE)
            for i, lid in enumerate(updates):
                old = self.records[(src, lid, self.latest[(src, lid)])]
                if i < n_moved:                 # the new version is another work
                    work = self._any_work()
                    isbns = list(self.works[work][5])
                    stats["moved"] += 1
                else:
                    work, isbns = old["work"], old["isbns"]
                self._add(out, src, lid, ver, work, isbns)
                stats["update"] += 1
            for _ in range(n_bridge):
                a, b = self._any_work(), self._any_work()
                lid = self._lid(src)
                self._add(out, src, lid, ver, a,
                          self.works[a][5] + self.works[b][5][:1])
                pool.append(lid)
                stats["bridge"] += 1
            for i in range(per_src - n_upd - n_del - n_bridge):
                # half new works, half copies of works other sources hold
                work = self._new_work() if i % 2 == 0 else self._any_work()
                lid = self._lid(src)
                self._add(out, src, lid, ver, work, self.works[work][5])
                pool.append(lid)
                stats["new"] += 1
            for lid in deletes:
                out.append(iso2709([_field("001", lid)], deleted=True))
                stats["deleted_versions"] += sum(
                    1 for v in range(1, self.latest[(src, lid)] + 1)
                    if (src, lid, v) in self.records)
                self.deleted.add((src, lid))
                stats["delete"] += 1
            files.append((f"b{k:02d}_{src}_v{ver}.mrc", b"".join(out), src, ver))
        self.batches.append(files)
        self.batch_stats.append(stats)
        self.history.append(len(self.records))
        self.deleted_after.append(set(self.deleted))

    # ---- ground truth ----

    def state(self, k):
        """Expected state after the seed and ``k`` batches: the live records
        and, per pool, the union-find and the cluster documents (frozensets
        of "SOURCE|localId|version", A7 filtered) keyed by component root."""
        keys = list(self.records)[:self.history[k]]
        gone = self.deleted_after[k]
        live = [r for r in keys if (r[0], r[1]) not in gone]
        pools = {}
        for pool in POOLS:
            uf = UnionFind()
            for r in keys:
                uf.find(("r",) + r)
                info = self.records[r]
                vals = ([f"w{info['work']}"] if pool == "goldrush"
                        else info["isbns"])
                for v in vals:
                    uf.union(("r",) + r, ("v", v))
            comps = {}
            for r in live:
                comps.setdefault(uf.find(("r",) + r), []).append(r)
            pools[pool] = {"uf": uf, "docs": {root: doc_members(m)
                                              for root, m in comps.items()}}
        return {"live": live, "pools": pools}

    def rounds(self):
        """The read ops that follow batch k. Keys come from the protected seed
        records (never updated or deleted), so each exists in every state;
        they are Zipf-skewed so popular clusters repeat."""
        rng = random.Random(len(self.records) * 31 + len(self.works))
        prot = sorted(self.protected)

        def pick():
            return prot[min(int(len(prot) * rng.random() ** 2.5), len(prot) - 1)]

        rounds = []
        for k in range(MAX_BATCHES):
            _, lid = pick()
            with_isbn = next(r for r in (pick() for _ in range(256))
                             if self.records[r + (1,)]["isbns"])
            isbn = self.records[with_isbn + (1,)]["isbns"][0]
            _, _, range_src, range_ver = self.batches[k][0]
            rounds.append([
                {"kind": "localId", "pool": "goldrush", "value": lid,
                 "cql": f'localId = "{lid}"'},
                {"kind": "clusterId", "pool": "goldrush", "value": lid},
                {"kind": "matchValue", "pool": "isbn", "value": isbn,
                 "cql": f'matchValue = "{isbn}"'},
                {"kind": "range", "pool": "isbn", "value": [range_src, range_ver],
                 "cql": f'sourceId = "{range_src}" and sourceVersion >= {range_ver}'},
            ])
        return rounds

    def expected_lookup(self, st, op):
        """The documents one lookup must return, as sorted member lists."""
        pool = st["pools"][op["pool"]]
        uf, docs = pool["uf"], pool["docs"]
        if op["kind"] in ("localId", "clusterId"):
            roots = {uf.find(("r",) + r) for r in st["live"] if r[1] == op["value"]}
        elif op["kind"] == "matchValue":
            roots = {uf.find(("v", op["value"]))}
        else:
            src, ver = op["value"]
            roots = {uf.find(("r",) + r) for r in st["live"]
                     if r[0] == src and r[2] >= ver}
        return sorted(sorted(docs[r]) for r in roots if r in docs)


def doc_members(records):
    """A7: within one cluster keep, per source, the records at the highest
    sourceVersion present; members render as SOURCE|localId|version."""
    top = {}
    for s, _, v in records:
        top[s] = max(top.get(s, 0), v)
    return frozenset(f"{s}|{l}|{v}" for s, l, v in records if v == top[s])


def write_inputs(gen, out_dir):
    """Write the seed and batch files; returns the manifest the JVM reads."""
    os.makedirs(out_dir, exist_ok=True)

    def put(files):
        listed = []
        for name, data, src, ver in files:
            path = os.path.join(out_dir, name)
            with open(path, "wb") as f:
                f.write(data)
            listed.append({"path": path, "source": src, "version": ver,
                           "bytes": len(data)})
        return listed

    return {
        "pools": POOLS,
        "seed": put(gen.seed_files),
        "batches": [put(b) for b in gen.batches],
        "batch_records": [gen.history[k + 1] - gen.history[k]
                          for k in range(len(gen.batches))],
        "rounds": gen.rounds(),
    }
