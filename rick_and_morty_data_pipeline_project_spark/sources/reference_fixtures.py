"""Deterministic synthesis of the reference-shaped tables (FIXTURES.md §A).

Reproduces the shapes of the reference's SQLite tables — emotion_table
(Scraper.py:261), episode_table (Scraper.py:282), episode_emotion_table
(Scraper.py:313), strain_review_table (Scraper.py:382, the canonical
14-column remote layout per SURVEY.md §1.3) — as seed-42 synthetic data
for reference-parity tests.  Scores follow the observed magnitudes
(episode scores uniform(0,1), strain scores uniform(0,0.12), 10-decimal
rounding); names exercise the ':'/',' normalization branches
(Scraper.py:227-231) including the exempt ids {19,25,32,35}.

``write_shipped_db`` lays the same rows out the way the reference's
shipped ``510FinalProject.db`` stores them, schema traps included, so
``sources/reference_db.py`` can be exercised without that file.
"""

from __future__ import annotations

import random
import sqlite3

from pyspark.sql import DataFrame, SparkSession

from rick_and_morty_data_pipeline_project_spark.functions.emotions import EMOTIONS

SEED = 42
N_EPISODES = 41
N_STRAINS = 278

_ADJ = [
    "frosty", "yummy", "cosmic", "sour", "gleaming", "purple", "golden",
    "silent", "electric", "mellow", "rusty", "zesty", "crimson", "misty",
    "velvet", "arctic", "ember", "lunar", "neon", "quantum",
]


def _rng() -> random.Random:
    return random.Random(SEED)


def episode_rows() -> list[tuple]:
    rng = _rng()
    rows = []
    for i in range(1, N_EPISODES + 1):
        base = f"Episode {i}"
        # exercise ':' and ',' normalization, keeping ids 19/25/32/35 present
        if i % 5 == 0:
            base = f"Part {i}: The {_ADJ[i % len(_ADJ)].title()} One"
        elif i % 7 == 0:
            base = f"The {_ADJ[i % len(_ADJ)].title()}, Again"
        rows.append((i, base))
    rng.random()  # keep rng stream aligned with historical fixtures
    return rows


def episode_emotion_rows() -> list[tuple]:
    rng = _rng()
    rows = []
    for i in range(1, N_EPISODES + 1):
        scores = [round(rng.uniform(0, 1), 10) for _ in EMOTIONS]
        rows.append((i, *scores))
    return rows


def strain_review_rows() -> list[tuple]:
    rng = _rng()
    rows = []
    used_ids: set[int] = set()
    for i in range(N_STRAINS):
        sid = rng.randrange(1000, 99999)
        while sid in used_ids:
            sid = rng.randrange(1000, 99999)
        used_ids.add(sid)
        name = f"{_ADJ[i % len(_ADJ)]}{i}"
        scores = [round(rng.uniform(0, 0.12), 10) for _ in EMOTIONS]
        rows.append((sid, name, *scores))
    return rows


def episode_dim(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        episode_rows(), "episode_id int, episode_name string"
    )


def episode_emotion(spark: SparkSession) -> DataFrame:
    schema = "episode_id int, " + ", ".join(f"{e} double" for e in EMOTIONS)
    return spark.createDataFrame(episode_emotion_rows(), schema)


def strain_review(spark: SparkSession) -> DataFrame:
    schema = "strain_id int, strain_name string, " + ", ".join(
        f"{e} double" for e in EMOTIONS
    )
    return spark.createDataFrame(strain_review_rows(), schema)


def emotion_dim(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(i + 1, e.title()) for i, e in enumerate(EMOTIONS)],
        "emotion_id int, emotion_name string",
    )


def write_shipped_db(path: str) -> None:
    """Write the seed-42 tables to a new SQLite file at ``path`` in the
    shipped database's physical layout (SURVEY.md §1.3), traps included:

    * ``strain_review_table`` has no ``strain_id`` column; row identity
      is the implicit ``rowid`` (1..N_STRAINS, insertion order);
    * each (``<slot>_id``, ``<slot>``) column pair holds an INTEGER id
      into ``emotion_table`` and the score of THAT emotion, whatever
      the slot's name says: the slot order is shuffled per row;
    * ``emotion_table`` ids are not the slot order and its names are
      capitalized.
    """
    rng = random.Random(SEED + 1)
    emotion_ids = {e: 10 + i for i, e in enumerate(sorted(EMOTIONS))}
    slot_cols = ", ".join(f"{e}_id INTEGER, {e} REAL" for e in EMOTIONS)
    holes = ", ".join("?" * (2 * len(EMOTIONS)))

    def slotted(scores: tuple) -> list:
        by_emotion = list(zip(EMOTIONS, scores, strict=True))
        rng.shuffle(by_emotion)
        return [v for e, score in by_emotion for v in (emotion_ids[e], score)]

    con = sqlite3.connect(path)
    try:
        con.execute(
            "CREATE TABLE emotion_table (emotion_id INTEGER, emotion_name TEXT)"
        )
        con.executemany(
            "INSERT INTO emotion_table VALUES (?, ?)",
            [(i, e.title()) for e, i in emotion_ids.items()],
        )
        con.execute(
            "CREATE TABLE episode_table (episode_id INTEGER, episode_name TEXT)"
        )
        con.executemany(
            "INSERT INTO episode_table VALUES (?, ?)", episode_rows()
        )
        con.execute(
            "CREATE TABLE episode_emotion_table "
            f"(episode_id INTEGER, {slot_cols})"
        )
        con.executemany(
            f"INSERT INTO episode_emotion_table VALUES (?, {holes})",
            [(r[0], *slotted(r[1:])) for r in episode_emotion_rows()],
        )
        con.execute(
            f"CREATE TABLE strain_review_table (strain_name TEXT, {slot_cols})"
        )
        con.executemany(
            f"INSERT INTO strain_review_table VALUES (?, {holes})",
            [(r[1], *slotted(r[2:])) for r in strain_review_rows()],
        )
        con.commit()
    finally:
        con.close()
