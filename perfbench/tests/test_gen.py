import json
import os
import unittest

from common import workdir
import gen


def file_hashes(ledger):
    return [gen.file_sha256(f) for f in ledger["files"]]


class DeterminismTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        for workload in gen.GENERATORS:
            with self.subTest(workload=workload):
                d = workdir()  # the plan names its input paths, so reuse one directory
                a = file_hashes(gen.generate(workload, 7, d)[1])
                b = file_hashes(gen.generate(workload, 7, d)[1])
                c = file_hashes(gen.generate(workload, 8, d)[1])
                self.assertEqual(a, b)
                self.assertTrue(all(x != y for x, y in zip(a, c)))


class LedgerTest(unittest.TestCase):
    def test_churn_model_matches_a_replay(self):
        """Replaying the op list over the initial rows reproduces every
        expected head-read digest."""
        d = workdir()
        plan, ledger = gen.generate("table_churn", 3, d)
        with open(plan["initial"]) as f:
            state = {k: (v, t) for k, v, t in json.load(f)}
        for op in plan["ops"]:
            kind = op["kind"]
            if kind == "append":
                state.update((k, (v, t)) for k, v, t in op["rows"])
            elif kind.startswith("merge"):
                for k, v, t, deleted in op["rows"]:
                    if deleted:
                        del state[k]
                    else:
                        state[k] = (v, t)
            elif kind == "delete":
                for k in op["keys"]:
                    del state[k]
            elif kind in ("head_read", "stream_drain"):
                want = gen.digest((k,) + r for k, r in state.items())
                self.assertEqual(ledger["expected"][op["id"]], want, op["id"])

    def test_dump_noise_is_counted(self):
        d = workdir()
        plan, ledger = gen.generate("graph_query", 3, d)
        with open(plan["dump"]) as f:
            lines = f.read().split("\n")[:-1]
        entities = sum(1 for line in lines if line.startswith('{"type"') and
                       line.rstrip(",").endswith("}}"))
        self.assertEqual(entities, ledger["entities"])
        self.assertEqual(len(lines) - entities, ledger["skipped_lines"])

    def test_closure_queries_run_every_step(self):
        """Each closure query's frontier stays non-empty until its last
        step, so every one runs the same number of Spark queries."""
        d = workdir()
        plan, _ = gen.generate("graph_query", 3, d)
        edges = {}
        with open(plan["dump"]) as f:
            for line in f:
                line = line.strip().rstrip(",")
                if line.startswith('{"type"') and line.endswith("}}"):
                    e = json.loads(line)
                    for c in e["claims"].get("P279", []):
                        if c["rank"] != "deprecated" and c["mainsnak"]["snaktype"] == "value":
                            edges.setdefault(int(e["id"][1:]), []).append(
                                c["mainsnak"]["datavalue"]["value"]["numeric-id"])
        closures = [op for op in plan["ops"] if op["kind"] == "closure"]
        self.assertTrue(closures)
        for op in closures:
            seen, frontier = set(), {op["src"]}
            for _ in range(op["depth"] - 1):
                frontier = {d for s in frontier for d in edges.get(s, [])} - seen
                seen |= frontier
                self.assertTrue(frontier, op["id"])

    def test_curate_plants_duplicates(self):
        d = workdir()
        plan, ledger = gen.generate("curate", 3, d)
        docs = {}
        with open(plan["corpus"]) as f:
            for line in f:
                r = json.loads(line)
                docs[r["doc_id"]] = r["text"]
        self.assertTrue(ledger["exact_pairs"] and ledger["near_pairs"])
        for a, b in ledger["exact_pairs"]:
            self.assertEqual(docs[a], docs[b])
        for a, b in ledger["near_pairs"]:
            sa, sb = gen.shingles(docs[a]), gen.shingles(docs[b])
            self.assertGreaterEqual(len(sa & sb) / len(sa | sb), 0.8)
        self.assertGreater(ledger["flood_rows"], gen.LSH_CAP)


if __name__ == "__main__":
    unittest.main()
