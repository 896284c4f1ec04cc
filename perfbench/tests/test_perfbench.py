"""Tests for the benchmark's own parts. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The listener test builds the engine (about half a minute the first time)
and starts one small Spark session.
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import marcgen  # noqa: E402
import run  # noqa: E402
import tablegen  # noqa: E402


def parse_iso2709(data):
    """Split a file into (leader, {tag: [field bodies]}) records."""
    out, pos = [], 0
    while pos < len(data):
        length = int(data[pos:pos + 5])
        rec = data[pos:pos + length]
        assert rec[-1:] == b"\x1d", "record terminator"
        base = int(rec[12:17])
        fields = {}
        d = 24
        while rec[d:d + 1] != b"\x1e":
            tag = rec[d:d + 3].decode()
            flen, start = int(rec[d + 3:d + 7]), int(rec[d + 7:d + 12])
            fields.setdefault(tag, []).append(rec[base + start:base + start + flen - 1])
            d += 12
        out.append((rec[:24].decode(), fields))
        pos += length
    return out


class MarcGenTest(unittest.TestCase):

    def test_same_seed_gives_identical_files_and_rounds(self):
        a, b = marcgen.Generator(5), marcgen.Generator(5)
        self.assertEqual(a.seed_files, b.seed_files)
        self.assertEqual(a.batches, b.batches)
        self.assertEqual(a.rounds(), b.rounds())
        with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
            m1, m2 = marcgen.write_inputs(a, d1), marcgen.write_inputs(b, d2)
            for f1, f2 in zip(m1["seed"] + sum(m1["batches"], []),
                              m2["seed"] + sum(m2["batches"], [])):
                with open(f1["path"], "rb") as x, open(f2["path"], "rb") as y:
                    self.assertEqual(x.read(), y.read())

    def test_other_seed_gives_other_files(self):
        self.assertNotEqual(marcgen.Generator(5).seed_files,
                            marcgen.Generator(6).seed_files)

    def test_files_parse_and_carry_the_generated_records(self):
        g = marcgen.Generator(7)
        n = 0
        for name, data, src, ver in g.seed_files + g.batches[0]:
            for leader, fields in parse_iso2709(data):
                lid = fields["001"][0].decode()
                if leader[5] == "d":
                    self.assertIn((src, lid), g.deleted)
                    continue
                n += 1
                rec = g.records[(src, lid, ver)]
                isbns = [f[4:].decode() for f in fields.get("020", [])]
                self.assertEqual(isbns, rec["isbns"])
        self.assertEqual(n, g.history[1])

    def test_ground_truth_is_a_consistent_partition(self):
        g = marcgen.Generator(8)
        for k in (0, 1, 3):
            st = g.state(k)
            live = set(st["live"])
            for pool, p in st["pools"].items():
                uf, docs = p["uf"], p["docs"]
                # every live record is in exactly one component with a doc
                roots = {r: uf.find(("r",) + r) for r in live}
                self.assertEqual(set(roots.values()), set(docs))
                # records sharing a key share a component
                by_key = {}
                for r in live:
                    info = g.records[r]
                    keys = [f"w{info['work']}"] if pool == "goldrush" else info["isbns"]
                    for key in keys:
                        by_key.setdefault(key, set()).add(roots[r])
                self.assertTrue(all(len(v) == 1 for v in by_key.values()))
                # docs list only live records at their source's top version
                for root, members in docs.items():
                    self.assertTrue(members)
                    for m in members:
                        s, lid, v = m.split("|")
                        self.assertIn((s, lid, int(v)), live)
                        self.assertEqual(roots[(s, lid, int(v))], root)
            # each lookup resolves to at least one document
            for op in g.rounds()[max(k - 1, 0)]:
                if op["kind"] != "range" or k > 0:
                    self.assertTrue(g.expected_lookup(st, op), op)

    def test_seed_store_has_the_palci_shape(self):
        # 20 sources, about three records per goldrush cluster
        g = marcgen.Generator(10)
        self.assertEqual({f[2] for f in g.seed_files}, set(marcgen.SOURCES))
        self.assertEqual(len(marcgen.SOURCES), 20)
        docs = g.state(0)["pools"]["goldrush"]["docs"].values()
        mean = sum(len(d) for d in docs) / len(docs)
        self.assertAlmostEqual(mean, 3.0, delta=0.25)

    def test_batches_mix_every_record_class(self):
        g = marcgen.Generator(9)
        total = {}
        for s in g.batch_stats:
            for key, v in s.items():
                total[key] = total.get(key, 0) + v
        for key in ("new", "update", "delete", "bridge", "moved"):
            self.assertGreater(total[key], 0, key)

    def test_batch_shape_depends_on_index_not_seed(self):
        def shapes(seed):
            g = marcgen.Generator(seed)
            return [(len(b), {k: v for k, v in s.items() if k != "deleted_versions"})
                    for b, s in zip(g.batches, g.batch_stats)]
        self.assertEqual(shapes(1), shapes(2))
        self.assertNotEqual(marcgen.Generator(1).batches[0], marcgen.Generator(2).batches[0])


class TableGenTest(unittest.TestCase):

    def test_same_seed_gives_identical_tables_and_batches(self):
        digests = []
        for _ in range(2):
            with tempfile.TemporaryDirectory() as d:
                manifest, expect = tablegen.write_inputs(3, d)
                h = hashlib.sha256()
                for root, _, files in sorted(os.walk(d)):
                    for f in sorted(files):
                        with open(os.path.join(root, f), "rb") as x:
                            h.update(f.encode() + x.read())
                digests.append((h.hexdigest(), json.dumps(expect, sort_keys=True)))
        self.assertEqual(digests[0], digests[1])


class ListenerTest(unittest.TestCase):

    def test_tiny_query_job_count_and_layers(self):
        repo = os.path.dirname(os.path.dirname(HERE))
        os.chdir(repo)
        jars = run.spark_jars()
        app_jar = os.path.abspath(run.build(jars))
        cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in run.ADD_OPENS]
               + ["-Xmx1g", "-cp", app_jar + os.pathsep + os.path.join(jars, "*"),
                  "perfbench.ListenerCheck"])
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
        self.assertEqual(out.returncode, 0, out.stdout[-2000:])
        got = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual(got["rows"], 4)
        self.assertEqual(got["layer_of"], ["storage", "graft"])
        # connected components runs six jobs from graft.cluster (its bounded
        # edge collect and the AQE stages under it); collecting the result
        # runs three from this benchmark's frames ("bench"), and the count
        # inside the perfbench.layer scope four, charged to that scope
        self.assertEqual([(j["group"], j["layer"]) for j in got["jobs"]],
                         [("cc", "cluster")] * 6 + [("cc", "bench")] * 3
                         + [("scoped", "api")] * 4)


if __name__ == "__main__":
    unittest.main()
