"""The benchmark's inputs.

The tables are the project's test corpus, committed under ``corpus/``
byte for byte: the TPC-H-like star schema plus the events, documents and
embeddings tables the registered queries read, generated once with seed
42. ``sf0.01`` (15k orders, 60k lineitems) is what a run reads;
``sf0.001`` is for the benchmark's own tests. Every query's DuckDB
oracle agrees with the program on these files.

``--seed`` decides everything else a run feeds the program: the
encryption key material, which orders columns take column keys and which
take KMS envelope keys, the masked-read subset, and the op order. Equal
seeds give identical inputs.
"""

from __future__ import annotations

import json
import random
from dataclasses import asdict, dataclass
from pathlib import Path

CORPUS = Path(__file__).resolve().parent / "corpus"
SCALES = ("0.01", "0.001")  # the run's scale factor first

ORDERS_COLUMNS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
]


def corpus_dir(sf: str) -> Path:
    return CORPUS / f"sf{sf}"


@dataclass(frozen=True)
class KeyMaterial:
    """Encryption inputs for one run, all drawn from the seed."""

    master_key_hex: str
    kms_key_id: str
    column_keys: dict[str, str]  # the orders columns that get column keys
    masked_request: list[str]  # the 2 columns a masked read decrypts
    data_key_seed: int  # seeds the counting KMS's data keys
    pme_key_ids: list[str]  # PME master-key ids: footer, then one per column group


def make_keys(seed: int) -> KeyMaterial:
    rnd = random.Random(f"keys:{seed}")

    def key_hex() -> str:
        # AES-256 throughout: a seed that drew shorter keys would make its
        # runs cheaper than the next seed's for reasons no program change
        # causes.
        return rnd.randbytes(32).hex()

    keyed = rnd.sample(ORDERS_COLUMNS, 2)
    return KeyMaterial(
        master_key_hex=key_hex(),
        kms_key_id=f"kms-{rnd.getrandbits(32):08x}",
        column_keys={c: key_hex() for c in keyed},
        masked_request=sorted(rnd.sample(ORDERS_COLUMNS, 2)),
        data_key_seed=rnd.getrandbits(63),
        pme_key_ids=[f"pme-{rnd.getrandbits(32):08x}" for _ in range(3)],
    )


def op_order(seed: int, ops: list[str]) -> list[str]:
    """The seed's permutation of a workload's op list."""
    shuffled = list(ops)
    random.Random(f"order:{seed}").shuffle(shuffled)
    return shuffled


def describe(seed: int, ops: list[str]) -> str:
    """Canonical JSON of everything the seed decides, for equality tests."""
    return json.dumps(
        {"keys": asdict(make_keys(seed)), "order": op_order(seed, ops)},
        sort_keys=True,
    )
