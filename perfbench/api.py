"""Synthetic, seeded Spotify-style API for the ETL workload.

Every artist, album page and track page is derived on demand from
``(seed, key, offset)`` by hashing, so the client pickled into each
ingestion task is a few integers, not a catalog. Payloads follow the
raw API shapes the pipeline parses (``schemas.RAW_ARTIST``,
``RAW_ALBUM``, ``RAW_TRACK``).

The catalog has the duplication the pipeline's per-run dedup exists
for: a small pool of compilation albums is listed under many artists,
and a pool of hit tracks appears on many albums, so one day's fetches
return the same album or track more than once.

``expected_day`` walks the same pages in plain Python and returns the
gold row counts a correct daily run lands (first occurrence wins within
a run), plus the number of API calls and payload bytes that run needs.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass
from typing import Any

_GROUPS = ("album", "single", "compilation", "appears_on")


def _h(*parts: object) -> int:
    return int.from_bytes(
        hashlib.blake2b(repr(parts).encode(), digest_size=8).digest(), "little"
    )


@dataclass(frozen=True)
class SyntheticSpotifyClient:
    seed: int
    n_artists: int = 5000
    own_albums: int = 25  # albums per artist (±2), besides compilations
    compilations_per_artist: int = 2
    n_compilations: int = 40
    tracks_per_album: int = 40  # mean; from half to one and a half times
    n_hits: int = 300
    hit_share_pct: int = 10

    # ---- identities -------------------------------------------------
    def artist_id(self, k: int) -> str:
        return f"ar{self.seed % 997:03d}x{k:07d}"

    def _artist_ref(self, k: int) -> dict[str, Any]:
        return {"id": self.artist_id(k), "name": f"Artist {k} é"}

    def _artist_index(self, artist_id: str) -> int:
        return int(artist_id.rsplit("x", 1)[1])

    def day_artists(self, run_date: str, n: int) -> list[str]:
        """The artist-id pool of one daily run: ``n`` distinct artists."""
        rng = random.Random(_h(self.seed, "day", run_date))
        return [self.artist_id(k) for k in sorted(rng.sample(range(self.n_artists), n))]

    def _albums_of(self, k: int) -> list[str]:
        n_own = self.own_albums - 2 + _h(self.seed, "na", k) % 5
        own = [f"al{k:07d}n{i:02d}" for i in range(n_own)]
        comps = sorted(
            {f"comp{_h(self.seed, 'cp', k, j) % self.n_compilations:03d}"
             for j in range(self.compilations_per_artist)}
        )
        return own + comps

    def _album(self, album_id: str) -> dict[str, Any]:
        h = _h(self.seed, "album", album_id)
        if album_id.startswith("comp"):
            artists = [self._artist_ref(_h(self.seed, "ca", album_id, j) % self.n_artists)
                       for j in range(3)]
        else:
            artists = [self._artist_ref(int(album_id[2:9]))]
            if h % 5 == 0:
                artists.append(self._artist_ref((h >> 8) % self.n_artists))
        year = 1960 + h % 64
        release = (str(year), f"{year}-{1 + h % 12:02d}", f"{year}-{1 + h % 12:02d}-{1 + h % 28:02d}")
        return {
            "id": album_id,
            "name": f"Album {album_id}",
            "release_date": release[(h >> 4) % 3],
            "type": "album",
            "total_tracks": self._n_tracks(album_id),
            "album_group": _GROUPS[(h >> 12) % 4],
            "artists": artists,
        }

    def _n_tracks(self, album_id: str) -> int:
        return self.tracks_per_album // 2 + _h(self.seed, "nt", album_id) % self.tracks_per_album

    def _track_id(self, album_id: str, i: int) -> str:
        h = _h(self.seed, "tk", album_id, i)
        if h % 100 < self.hit_share_pct:
            return f"hit{(h >> 8) % self.n_hits:04d}"
        return f"tr{album_id}t{i:02d}"

    def _track(self, track_id: str) -> dict[str, Any]:
        h = _h(self.seed, "track", track_id)
        if track_id.startswith("hit"):
            owner = h % self.n_artists
        else:
            owner = self._artist_index(self._album(track_id[2:-3])["artists"][0]["id"])
        artists = [self._artist_ref(owner)]
        if h % 4 == 0:
            artists.append(self._artist_ref((h >> 16) % self.n_artists))
        return {
            "id": track_id,
            "name": f"Track {track_id}",
            "track_number": 1 + (h >> 8) % 40,
            "duration_ms": 30_000 + (h >> 20) % 570_000,
            "artists": artists,
        }

    # ---- ApiClient protocol ------------------------------------------
    def artists(self, ids: list[str]) -> list[dict[str, Any]]:
        out = []
        for artist_id in ids:
            k = self._artist_index(artist_id)
            h = _h(self.seed, "artist", k)
            out.append(
                {
                    "id": artist_id,
                    "name": f"Artist {k} é",
                    "followers": None if h % 20 == 0 else {"total": h % 1_000_000},
                    "popularity": (h >> 24) % 101,
                }
            )
        return out

    @staticmethod
    def _page(items: list[dict[str, Any]], total: int, limit: int, offset: int) -> dict[str, Any]:
        return {"items": items, "next": "next" if offset + limit < total else None}

    def artist_albums(self, artist_id: str, limit: int, offset: int) -> dict[str, Any]:
        ids = self._albums_of(self._artist_index(artist_id))
        return self._page([self._album(a) for a in ids[offset:offset + limit]], len(ids), limit, offset)

    def album_tracks(self, album_id: str, limit: int, offset: int) -> dict[str, Any]:
        n = self._n_tracks(album_id)
        ids = [self._track_id(album_id, i) for i in range(offset, min(n, offset + limit))]
        return self._page([self._track(t) for t in ids], n, limit, offset)

    def search_artists(self, query: str, limit: int) -> list[dict[str, Any]]:
        return []

    # ---- independent expectation --------------------------------------
    def expected_day(
        self, artist_ids: list[str], batch_size: int, album_page: int, track_page: int
    ) -> dict[str, int]:
        """Gold row counts per entity, API calls and payload bytes of one
        daily run over ``artist_ids``, computed without Spark."""
        calls = 0
        payload = 0

        def paged(fetch, key: str, limit: int) -> list[dict[str, Any]]:
            nonlocal calls, payload
            items, offset = [], 0
            while True:
                page = fetch(key, limit=limit, offset=offset)
                calls += 1
                items.extend(page["items"])
                payload += sum(len(json.dumps(r)) for r in page["items"])
                offset += len(page["items"])
                if not page["next"] or not page["items"]:
                    return items

        for start in range(0, len(artist_ids), batch_size):
            recs = self.artists(artist_ids[start:start + batch_size])
            calls += 1
            payload += sum(len(json.dumps(r)) for r in recs)
        albums: dict[str, dict[str, Any]] = {}
        album_artists: set[tuple[str, str]] = set()
        for artist_id in artist_ids:
            for rec in paged(self.artist_albums, artist_id, album_page):
                albums.setdefault(rec["id"], rec)
                album_artists.update((a["id"], rec["id"]) for a in rec["artists"])
        tracks: set[str] = set()
        track_artists: set[tuple[str, str]] = set()
        for album_id in albums:
            for rec in paged(self.album_tracks, album_id, track_page):
                tracks.add(rec["id"])
                track_artists.update((rec["id"], a["id"]) for a in rec["artists"])
        return {
            "artist": len(artist_ids),
            "album": len(albums),
            "album_artists": len(album_artists),
            "track": len(tracks),
            "track_artists": len(track_artists),
            "api_calls": calls,
            "payload_bytes": payload,
        }
