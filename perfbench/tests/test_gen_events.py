"""Tests of the seeded job generator: python3 -m unittest discover -s perfbench/tests"""

import json
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen_events as g  # noqa: E402

N = 3000


def leaves(prefix, v):
    """Flattened column names of one JSON value, the pipeline's way:
    records split into parent_child, arrays into parent_i."""
    if isinstance(v, dict):
        out = {}
        for k, x in v.items():
            name = g.snake_case(k) if not prefix else f"{prefix}_{g.snake_case(k)}"
            out.update(leaves(name, x))
        return out
    if isinstance(v, list):
        out = {}
        for i, x in enumerate(v):
            out.update(leaves(f"{prefix}_{i}", x))
        return out
    return {prefix: v}


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.jobs, cls.meta = g.generate(7, N)
        cls.exp = g.expectation(cls.meta, N)
        cls.design = g.Design(N)

    def parsed(self):
        for i, (text, m) in enumerate(zip(self.jobs, self.meta)):
            if m[0] is not None:
                yield i, json.loads(text)

    def test_same_seed_gives_byte_identical_jobs(self):
        again, _ = g.generate(7, N)
        self.assertEqual("\n".join(self.jobs).encode(), "\n".join(again).encode())

    def test_other_seed_gives_other_jobs(self):
        other, _ = g.generate(8, N)
        self.assertNotEqual(self.jobs, other)

    def test_about_forty_zipf_skewed_types(self):
        counts = sorted((len(v["ids"]) for v in self.exp["types"].values()), reverse=True)
        self.assertEqual(len(counts), g.N_TYPES)
        self.assertGreater(counts[0], 10 * counts[-1])

    def test_fixed_share_of_invalid_jobs(self):
        invalid = [i for i, m in enumerate(self.meta) if m[0] is None]
        self.assertEqual(len(invalid), round(g.INVALID_SHARE * N))
        kinds = {"missing": 0, "empty": 0, "unparseable": 0}
        for i in invalid:
            try:
                job = json.loads(self.jobs[i])
            except json.JSONDecodeError:
                kinds["unparseable"] += 1
                continue
            kinds["missing" if "event_type" not in job else "empty"] += 1
            self.assertIn(job.get("event_type", ""), ("",))
        self.assertTrue(all(v > 0 for v in kinds.values()), kinds)
        self.assertEqual(sorted(self.exp["invalid_ids"]), [i + 1 for i in invalid])

    def test_job_shape(self):
        kinds = set()
        for _, job in self.parsed():
            self.assertEqual(set(job), {"event_id", "ts", "user_id", "event_type", "value", "props"})
            for k, v in leaves("", job["props"]).items():
                kinds.add(type(v).__name__)
            self.assertRegex(job["props"]["createdAt"], r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z$")
            self.assertTrue(any(c.isupper() for c in "".join(job["props"])))
        self.assertEqual(kinds, {"str", "int", "float", "bool"})

    def test_added_keys_appear_only_from_their_point(self):
        for _, key, _ in g.ADDED_KEYS:
            at = self.design.added_at[key]
            seen = [i for i, job in self.parsed() if key in job["props"]]
            self.assertTrue(seen)
            self.assertGreaterEqual(min(seen), at)

    def test_widened_keys_are_ints_then_strings(self):
        for _, key, _ in g.WIDENED_KEYS:
            at = self.design.widened_at[key]
            for i, job in self.parsed():
                if key in job["props"]:
                    self.assertIsInstance(job["props"][key], str if i >= at else int)

    def test_opening_and_closing_rounds_hold_every_type(self):
        d = self.design
        for lo, hi in ((0, d.body_lo), (d.body_hi, N)):
            self.assertEqual({self.meta[i][0] for i in range(lo, hi)}, set(g.TYPE_NAMES))

    def test_expected_counts_and_aggregates_match_the_jobs(self):
        by_type = {}
        for _, job in self.parsed():
            by_type.setdefault(job["event_type"], []).append(job)
        self.assertEqual(set(by_type), set(self.exp["types"]))
        for t, jobs in by_type.items():
            e = self.exp["types"][t]
            self.assertEqual(e["ids"], [j["event_id"] for j in jobs])
            self.assertEqual(e["screen_width_sum"],
                             sum(j["props"].get("device", {}).get("screenWidth", 0) for j in jobs))
            self.assertEqual(sum(e["hours"].values()), len(jobs))

    def test_expected_schema_covers_every_flattened_key(self):
        props_cols = {k for _, job in self.parsed() for k in leaves("", job["props"])}
        fixed = {c for c, _ in g.ENVELOPE_COLUMNS + g.ENRICH_COLUMNS}
        self.assertEqual(props_cols, set(self.exp["schema"]) - fixed)
        for _, _, col in g.WIDENED_KEYS:
            self.assertEqual(self.exp["schema"][col], "string")
        self.assertEqual(self.exp["columns_added_per_table"],
                         sum(len(c) for _, _, c in g.ADDED_KEYS))

    def test_final_schema_does_not_depend_on_batch_boundaries(self):
        """Each micro-batch infers one schema over all its rows, so a table
        gets the columns (and the string type of a widened key) of every
        batch it appears in.  For any cut into batches, every table must
        end with the expected columns and widened types."""
        fixed = {c for c, _ in g.ENVELOPE_COLUMNS + g.ENRICH_COLUMNS}
        want = set(self.exp["schema"]) - fixed
        widened = {c for _, _, c in g.WIDENED_KEYS}
        rows = list(self.parsed())
        rng = random.Random(3)
        for _ in range(5):
            cuts = sorted(rng.sample(range(1, len(rows)), rng.randrange(1, 60)))
            cols, strings = {}, {}
            for lo, hi in zip([0] + cuts, cuts + [len(rows)]):
                batch = [job for _, job in rows[lo:hi]]
                flat = [leaves("", job["props"]) for job in batch]
                batch_cols = set().union(*flat)
                batch_str = {c for f in flat for c, v in f.items() if c in widened and isinstance(v, str)}
                for job in batch:
                    t = job["event_type"]
                    cols.setdefault(t, set()).update(batch_cols)
                    strings.setdefault(t, set()).update(batch_str)
            for t in self.exp["types"]:
                self.assertEqual(cols[t], want, t)
                self.assertEqual(strings[t], widened, t)


if __name__ == "__main__":
    unittest.main()
