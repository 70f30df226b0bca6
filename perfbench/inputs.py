"""Seeded input generators for the three workloads.

Everything the program receives is made here from ``--seed``: the same
seed gives byte-identical inputs. Pages come from the package's own
deterministic page synthesizer (``ner_app_spark.synth.synth_page``) so the
extraction oracle applies to them; the entity catalog is an
open-vocabulary generator of its own, because the package's alias
dictionary is fixed at ~75 rows. Both are generated on the executors:
every row is a pure function of (seed, row id).
"""

from __future__ import annotations

import random

#: syllables for catalog names; the Cyrillic/Latin split is the lang mix
_CYR = [
    "ба", "ве", "ги", "до", "жу", "зе", "ка", "ли", "мо", "ну", "пе", "ри",
    "со", "ту", "фе", "ха", "це", "чу", "ша", "эр", "юн", "яр", "ол", "ин",
]
_LAT = [
    "ba", "ve", "gi", "do", "zu", "ka", "li", "mo", "nu", "pe", "ri", "so",
    "tu", "fe", "ha", "ce", "ol", "in", "ar", "ex", "qu", "wy", "jo", "st",
]


def page_frame(spark, lo: int, hi: int, seed: int, n_slices: int):
    """Pages ``lo <= i < hi`` as a DataFrame of the package's page schema,
    generated on the executors (same device as
    ``sources.pages.synth_pages_df``, but over an id range so crawl dumps
    get fresh urls)."""
    from ner_app_spark.sources.pages import PAGE_SCHEMA

    cols = PAGE_SCHEMA.fieldNames()

    def gen(batches):
        import pandas as pd

        from ner_app_spark.synth import synth_page

        for pdf in batches:
            yield pd.DataFrame(
                [synth_page(int(i), seed) for i in pdf["id"]], columns=cols
            )

    return spark.range(lo, hi, numPartitions=n_slices).mapInPandas(
        gen, schema=PAGE_SCHEMA
    )


ALIAS_SCHEMA = "alias string, entity_id long, canonical_name string"
OCCURRENCE_SCHEMA = "url string, phrase string, head_noun string"


def _name(rng: random.Random) -> str:
    syl = _CYR if rng.random() < 0.7 else _LAT
    return "".join(rng.choice(syl) for _ in range(rng.randint(2, 4)))


def _misspell(rng: random.Random, s: str) -> str:
    """One edit: substitute, delete, insert or transpose a character."""
    i = rng.randrange(len(s))
    kind = rng.randrange(4)
    alphabet = "абвгдеклмнопрст" if s[0] >= "а" else "abcdeklmnoprst"
    if kind == 0:
        return s[:i] + rng.choice(alphabet) + s[i + 1 :]
    if kind == 1 and len(s) > 3:
        return s[:i] + s[i + 1 :]
    if kind == 2:
        return s[:i] + rng.choice(alphabet) + s[i:]
    j = min(i + 1, len(s) - 1)
    return s[:i] + s[j] + s[i] + s[j + 1 :] if j > i else s + rng.choice(alphabet)


def entity_aliases(seed: int, eid: int, n_entities: int) -> list[tuple]:
    """Alias rows of entity ``eid``: its name, a near-miss alias (last
    character dropped) for 15% of entities, and for 8% the same name as
    an alias of a second entity (a colliding alias). Names are drawn per
    entity, so two entities can also share a name by chance."""
    rng = random.Random(f"{seed}:e{eid}")
    name = _name(rng)
    rows = [(name, eid, name.upper())]
    if rng.random() < 0.15 and len(name) > 4:
        rows.append((name[:-1], eid, name.upper()))
    if rng.random() < 0.08:
        rows.append((name, eid + n_entities, name.upper() + "_ALT"))
    return rows


def mention(seed: int, mid: int, n_entities: int) -> str:
    """Mention ``mid``: 40% an entity's exact name, 40% a one-edit
    misspelling of one, 20% an unrelated word."""
    rng = random.Random(f"{seed}:m{mid}")
    roll = rng.random()
    base = entity_aliases(seed, rng.randint(1, n_entities), n_entities)[0][0]
    if roll < 0.4:
        return base
    if roll < 0.8:
        return _misspell(rng, base)
    return _name(rng) + rng.choice(["ый", "ость", "er", "ism"])


def catalog_frames(
    spark, seed: int, n_entities: int, n_mentions: int, n_occurrences: int,
    n_slices: int,
):
    """(aliases, occurrences) frames of a generated entity catalog, made on
    the executors. Occurrence ``i < n_occurrences`` draws its mention from
    a Zipf(1.1) law over mention ids, so a few head mentions take most
    occurrences; then every mention id occurs once more, so each appears."""

    def aliases(batches):
        import pandas as pd

        for pdf in batches:
            rows = [r for e in pdf["id"] for r in entity_aliases(seed, int(e), n_entities)]
            yield pd.DataFrame(rows, columns=["alias", "entity_id", "canonical_name"])

    def occurrences(batches):
        import itertools

        import pandas as pd

        cum = list(itertools.accumulate(1.0 / (r + 1) ** 1.1 for r in range(n_mentions)))
        for pdf in batches:
            rows = []
            for i in map(int, pdf["id"]):
                if i < n_occurrences:
                    rng = random.Random(f"{seed}:o{i}")
                    mid = rng.choices(range(n_mentions), cum_weights=cum)[0]
                else:
                    mid = i - n_occurrences
                m = mention(seed, mid, n_entities)
                rows.append((f"https://doc{i % 997}.example/{i}", m, m))
            yield pd.DataFrame(rows, columns=["url", "phrase", "head_noun"])

    return (
        spark.range(1, n_entities + 1, numPartitions=n_slices).mapInPandas(
            aliases, ALIAS_SCHEMA
        ),
        spark.range(0, n_occurrences + n_mentions, numPartitions=n_slices).mapInPandas(
            occurrences, OCCURRENCE_SCHEMA
        ),
    )
