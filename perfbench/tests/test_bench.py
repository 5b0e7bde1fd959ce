"""Tests of the benchmark's own code: the page generator, the output model,
the statistics, the stream figures per page. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import pages  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

ROOT = HERE.parent.parent
FIXTURE = ROOT / "src" / "test" / "resources" / "playlist_fixture.json"
G82_TRACE = ROOT / "plans" / "r19" / "g82_sampled_betweenness_after.txt"


def _files(d):
    return {f.name: f.read_bytes() for f in sorted(Path(d).iterdir())}


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            pages.generate(7, 6, a)
            pages.generate(7, 6, b)
            pages.generate(8, 6, c)
            self.assertEqual(_files(a), _files(b))
            self.assertNotEqual(_files(a), _files(c))

    def test_layout_and_edge_cases(self):
        with tempfile.TemporaryDirectory() as d:
            got = pages.generate(3, 12, d)
            names = sorted(f.name for f in Path(d).iterdir())
            self.assertEqual(names, [f"page_{i:05d}.json" for i in range(12)])
            text = (Path(d) / names[0]).read_text(encoding="utf-8")
            self.assertGreater(text.count("\n"), 100)  # pretty-printed, multi-line
            self.assertEqual(pages.load(d), got)
        items = [it for p in got for it in p["items"]]
        self.assertTrue(all(len(p["items"]) == pages.ITEMS_PER_PAGE for p in got))
        dates = {len(it["track"]["album"]["release_date"]) for it in items}
        self.assertEqual(dates, {4, 7, 10})  # yyyy, yyyy-MM, yyyy-MM-dd
        n_artists = [len(it["track"]["artists"]) for it in items]
        self.assertIn(0, n_artists)
        self.assertTrue(any(n > 1 for n in n_artists))
        # Zipf reuse: keep-first dedup drops most of the repeats
        songs, artists, albums = pages.expected_batch(got)
        self.assertLess(sum(artists.values()), len(items) / 2)
        self.assertLess(sum(albums.values()), len(items) / 2)
        self.assertEqual(sum(songs.values()), len(items))
        # repeats differ in their share links, so keep-last would give other rows,
        # within a page (the stream's dedup) and across pages (the batch's)
        keep_last = pages.expected([{"items": items[::-1]}])
        self.assertNotEqual(keep_last[1], artists)
        self.assertNotEqual(keep_last[2], albums)
        first_page = pages.expected([{"items": got[0]["items"][::-1]}])
        self.assertNotEqual(first_page[2], pages.expected(got[:1])[2])


class ModelTest(unittest.TestCase):
    def test_fixture_matches_the_specs(self):
        fixture = [json.loads(FIXTURE.read_text(encoding="utf-8"))]
        songs, artists, albums = pages.expected_batch(fixture)
        self.assertEqual(sum(songs.values()), 5)
        self.assertEqual(sorted(a[0] for a in artists), ["ar1", "ar2", "ar3"])
        by_album = {a[0]: a for a in albums}
        self.assertEqual(sorted(by_album), ["al1", "al2", "al3", "al4"])
        self.assertEqual(by_album["al1"][2], "2023-01-15")
        self.assertEqual(by_album["al2"][2], "1999-03-01")
        self.assertEqual(by_album["al3"][2], "1981-01-01")
        t1 = next(s for s in songs if s[0] == "t1")
        self.assertEqual(t1, ("t1", "Track One", "201000", "https://open.spotify.com/track/t1",
                              "91", "2023-01-01T12:00:00Z", "al1", "ar1"))
        t4 = next(s for s in songs if s[0] == "t4")
        self.assertEqual(t4[7], "ar3")  # primary artist only; the co-artist is dropped

    def test_empty_artists_give_one_null_artist_row(self):
        page = {"items": [
            {"added_at": "2024-01-01T00:00:00Z", "track": {
                "id": f"tx{i}", "name": "X", "duration_ms": 1, "popularity": 1,
                "external_urls": {"spotify": "u"}, "artists": [],
                "album": {"id": "al", "name": "A", "release_date": "2020", "total_tracks": 1,
                          "external_urls": {"spotify": "v"}}}} for i in range(2)]}
        songs, artists, _ = pages.expected_batch([page])
        self.assertEqual(artists, {(None, None, None): 1})
        self.assertTrue(all(s[7] is None for s in songs))

    def test_stream_model_is_per_page_keep_first(self):
        with tempfile.TemporaryDirectory() as d:
            got = pages.generate(5, 4, d)
        _, batch_artists, _ = pages.expected_batch(got)
        _, stream_artists, _ = pages.expected_stream(got)
        self.assertGreater(sum(stream_artists.values()), sum(batch_artists.values()))
        self.assertEqual({a[0] for a in stream_artists}, {a[0] for a in batch_artists})


class StatsTest(unittest.TestCase):
    def test_driver_gap_is_never_negative_for_overlapping_jobs(self):
        # Rebuild the job intervals of a recorded profile whose per-job gaps go
        # as low as -0.8 s (jobs run concurrently from futures).
        rows = [tuple(map(float, m.groups())) for m in re.finditer(
            r"gap\s+(-?[\d.]+) dur\s+([\d.]+)", G82_TRACE.read_text())]
        intervals, prev_end = [], 0.0
        for gap, dur in rows:
            start = prev_end + gap
            intervals.append((start, start + dur))
            prev_end = max(prev_end, start + dur)
        self.assertLessEqual(min(g for g, _ in rows), -0.8)
        wall = prev_end
        busy, gap = stats.busy_and_gap(wall, intervals)
        self.assertGreaterEqual(gap, 0.0)
        self.assertAlmostEqual(busy + gap, wall)
        self.assertLess(busy, sum(d for _, d in rows))  # overlaps are counted once

    def test_union_of_overlapping_intervals(self):
        self.assertAlmostEqual(stats.union_length([(0.010, 0.818), (0.018, 0.406)]), 0.808)
        self.assertAlmostEqual(stats.union_length([(0, 1), (2, 3), (2.5, 4)]), 3.0)
        self.assertEqual(stats.busy_and_gap(1.0, [(0.2, 0.5), (0.4, 0.9)]), (0.7, 0.30000000000000004))

    def test_tail_rule_reports_percentile_and_sample_count(self):
        xs = list(range(1, 41))
        self.assertEqual(stats.tail(xs), (30, 75.0, 40))  # ten samples lie above 30
        self.assertEqual(stats.tail(list(range(100))), (89, 90.0, 100))
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (2.0, 50.0, 3))  # too few: the median
        self.assertEqual(stats.tail([])[2], 0)

    def test_self_time_subtracts_children(self):
        spans = [{"id": 1, "parent": 0, "start": 0, "end": 10},
                 {"id": 2, "parent": 1, "start": 1, "end": 4},
                 {"id": 3, "parent": 1, "start": 3, "end": 6},
                 {"id": 4, "parent": 2, "start": 1, "end": 2}]
        self.assertEqual(stats.self_times(spans), {1: 5, 2: 2, 3: 3, 4: 1})



class StreamPerPageTest(unittest.TestCase):
    @staticmethod
    def _log(path, epoch_s, lines=()):
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text("v1\n" + "".join(json.dumps(x) + "\n" for x in lines))
        os.utime(path, ns=(int(epoch_s * 1e9), int(epoch_s * 1e9)))

    def test_intervals_are_divided_by_the_pages_of_their_batch(self):
        # batch 0 reads one page, batch 1 reads three: each interval is shared
        # by the pages its batch read, so a batching change is not read as a
        # slowdown
        with tempfile.TemporaryDirectory() as d:
            ckpt = Path(d) / "ckpt"
            batches = {0: ["page_00000.json"],
                       1: ["page_00001.json", "page_00002.json", "page_00003.json"]}
            times = {0: (101.0, 102.0), 1: (102.5, 104.0)}  # (offset log, commit log)
            for b, files in batches.items():
                self._log(ckpt / "sources" / "0" / str(b), times[b][0],
                          [{"path": f"file:/in/{f}", "batchId": b} for f in files])
                self._log(ckpt / "offsets" / str(b), times[b][0])
                self._log(ckpt / "commits" / str(b), times[b][1])
            got = run._stream_per_page({"dir": d, "stream_start_ms": 100_000})
        self.assertEqual(len(got), 2)
        self.assertAlmostEqual(got[0][0], 2.0)        # stream start to first commit, one page
        self.assertAlmostEqual(got[0][1], 1.0)        # offset log to commit log
        self.assertAlmostEqual(got[1][0], 2.0 / 3)    # commit to commit, three pages
        self.assertAlmostEqual(got[1][1], 1.5 / 3)


if __name__ == "__main__":
    unittest.main()
