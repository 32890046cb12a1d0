"""The benchmark's workloads: what each op calls and how its output is checked.

Every op calls one public function of a program layer. Encrypted reads
end in one timed action, ``bit_xor(xxhash64(*columns))``, whose value is
compared with the same hash of the plaintext under the reference value
model (string cast, NULL → "", unrequested columns → ``[ENCRYPTED]``).
Query ops run through the noop sink; their outputs are compared with
the DuckDB oracle in the untimed warm-up pass.
"""

from __future__ import annotations

import json
import random
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from project_final_parquet_spark.encryption import io as enc_io
from project_final_parquet_spark.encryption import pme
from project_final_parquet_spark.encryption.cell import ENCRYPTED_PLACEHOLDER
from project_final_parquet_spark.encryption.config import EncryptionConfig
from project_final_parquet_spark.encryption.kms import MockKMS
from project_final_parquet_spark.encryption.reffile import (
    ReferenceCompatKMS,
    read_reference_format,
    write_reference_format,
)
from project_final_parquet_spark.operators.reffile_source import RefFileDataSource

from inputs import ORDERS_COLUMNS, KeyMaterial, op_order
from spans import Tracer

# Reference-format shards of orders, split by o_orderkey, that each pass
# writes and the reffile scan reads back. Each shard write costs 1.5-2.5 s
# at sf0.01, so two keep a run inside its time budget.
REF_SHARDS = 2


class WrongResult(Exception):
    """An op finished but its output differs from the expected value."""


@dataclass
class Ctx:
    spark: object
    data_dir: Path
    out_dir: Path
    keys: KeyMaterial
    seed: int
    tracer: Tracer
    queries: dict = field(default_factory=dict)

    @property
    def sc(self):
        return self.spark.sparkContext


@dataclass
class Op:
    name: str
    layer: str  # the module whose public function the op calls
    fn: Callable[[], None]


class CountingKMS(MockKMS):
    """MockKMS whose data keys come from the seed, counting its calls."""

    def __init__(self, seed: int):
        self._rnd = random.Random(seed)
        self.generate_calls = 0
        self.unwrap_calls = 0

    def generate_data_key(self, kms_key_id: str) -> tuple[bytes, bytes]:
        self.generate_calls += 1
        plain = self._rnd.randbytes(self.DATA_KEY_LEN)
        stream = self._key_stream(kms_key_id, len(plain))
        return plain, bytes(a ^ b for a, b in zip(plain, stream))

    def decrypt_data_key(self, wrapped: bytes, kms_key_id: str) -> bytes:
        self.unwrap_calls += 1
        return super().decrypt_data_key(wrapped, kms_key_id)


class CountingRefKMS(ReferenceCompatKMS):
    """The reference-format KMS contract, counting its calls."""

    def __init__(self):
        self.generate_calls = 0
        self.unwrap_calls = 0

    def generate_data_key(self, kms_key_id: str) -> tuple[bytes, bytes]:
        self.generate_calls += 1
        return super().generate_data_key(kms_key_id)

    def decrypt_data_key(self, wrapped: bytes, kms_key_id: str) -> bytes:
        self.unwrap_calls += 1
        return super().decrypt_data_key(wrapped, kms_key_id)


def model_columns(columns: list[str], requested: list[str] | None = None) -> list:
    """``columns`` as the reference value model reads them back: string
    cast, NULL → "", unrequested → ``[ENCRYPTED]``."""
    return [
        F.coalesce(F.col(c).cast("string"), F.lit(""))
        if requested is None or c in requested
        else F.lit(ENCRYPTED_PLACEHOLDER)
        for c in columns
    ]


def model_hash(columns: list[str], requested: list[str] | None = None):
    """Order-insensitive row hash; ``bit_xor`` cannot overflow."""
    return F.bit_xor(F.xxhash64(*model_columns(columns, requested)))


def _hash_action(df: DataFrame) -> tuple[int, DataFrame]:
    """The timed action of a read: hash every column as returned."""
    hdf = df.select(F.bit_xor(F.xxhash64(*df.columns)))
    return hdf.head()[0], hdf


def _check(name: str, got: int, want: int) -> None:
    if got != want:
        raise WrongResult(f"{name}: hash {got} != expected {want}")


def dir_bytes(path: Path) -> int:
    if path.is_file():
        return path.stat().st_size
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class EncRoundtrip:
    """All three encrypted storage paths, reads consuming this run's writes."""

    name = "enc_roundtrip"
    # Timed passes a run makes at least. One pass is 9 ops and 6-10 s;
    # runs of one pass spread 0.10 (IQR/median of CPU seconds, 10 seeds).
    passes = 1

    def __init__(self, ctx: Ctx):
        k = ctx.keys
        self.ctx = ctx
        self.kms = CountingKMS(k.data_key_seed)
        self.ref_kms = CountingRefKMS()
        self.cfg = EncryptionConfig(
            column_keys=dict(k.column_keys), master_key_hex=k.master_key_hex,
            use_kms=True, kms_key_id=k.kms_key_id,
        )
        rnd = random.Random(f"enc:{ctx.seed}")
        self.ref_read_shard = rnd.randrange(REF_SHARDS)
        # PME: two column groups under their own master keys; the rest,
        # and the footer, under the footer key.
        self.pme_footer, *group_ids = k.pme_key_ids
        self.expected: dict[str, int] = {}
        self.plain_bytes = 0
        self._pme_groups = dict(zip(group_ids, ([], [])))
        self._hash_plans: dict[str, str] = {}

    def kms_calls(self) -> tuple[int, int]:
        return (self.kms.generate_calls + self.ref_kms.generate_calls,
                self.kms.unwrap_calls + self.ref_kms.unwrap_calls)

    def stage(self) -> None:
        spark = self.ctx.spark
        pme.ensure_pme_jar(spark)
        spark.dataSource.register(RefFileDataSource)

    def _tables(self):
        spark, d = self.ctx.spark, self.ctx.data_dir
        orders = spark.read.parquet(str(d / "orders.parquet"))
        lineitem = spark.read.parquet(str(d / "lineitem.parquet"))
        return orders, lineitem

    def prepare(self) -> None:
        """Expected hashes, computed by the benchmark from the plaintext once
        per run, and the size of the same rows as plain Parquet (the
        corpus files)."""
        orders, lineitem = self._tables()
        names = sorted(ORDERS_COLUMNS)
        masked = self.ctx.keys.masked_request
        picked = random.Random(f"pme:{self.ctx.seed}").sample(lineitem.columns, 4)
        for i, kid in enumerate(self._pme_groups):
            self._pme_groups[kid] = picked[2 * i: 2 * i + 2]
        in_shard = F.col("o_orderkey") % REF_SHARDS == self.ref_read_shard
        row = orders.select(
            model_hash(orders.columns).alias("cell_read_full"),
            model_hash(orders.columns, masked).alias("cell_read_masked"),
            model_hash(names).alias("ref_scan"),
            F.bit_xor(F.when(in_shard, F.xxhash64(*model_columns(names, masked))))
            .alias("ref_read"),
        ).head()
        self.expected = row.asDict()
        self.expected["pme_read"] = lineitem.select(F.bit_xor(F.xxhash64(*lineitem.columns))).head()[0]
        # The run writes orders twice (cell table, reference shards) and
        # lineitem once (PME).
        d = self.ctx.data_dir
        self.plain_bytes = 2 * dir_bytes(d / "orders.parquet") + dir_bytes(d / "lineitem.parquet")

    @staticmethod
    def _orders_str(orders: DataFrame) -> DataFrame:
        return orders.select(*[F.col(c).cast("string").alias(c) for c in orders.columns])

    @staticmethod
    def _shard(df: DataFrame, s: int) -> DataFrame:
        return df.filter(F.col("o_orderkey").cast("long") % REF_SHARDS == s)

    def stored_bytes(self) -> int:
        out = self.ctx.out_dir
        return sum(dir_bytes(out / p) for p in ("cell", "pme", "ref"))

    # -- ops -----------------------------------------------------------

    def ops(self) -> list[Op]:
        ctx, out, k = self.ctx, self.ctx.out_dir, self.ctx.keys
        spark = ctx.spark
        cell_path, pme_path, ref_dir = str(out / "cell"), str(out / "pme"), out / "ref"
        ref_dir.mkdir(parents=True, exist_ok=True)

        def cell_write():
            orders, _ = self._tables()
            enc_io.write_encrypted_table(orders, cell_path, self.cfg, kms=self.kms)

        def cell_read(name, requested):
            def fn():
                df = enc_io.read_encrypted_table(spark, cell_path, self.cfg, requested, kms=self.kms)
                got, hdf = _hash_action(df)
                self._note_plan(name, hdf)
                _check(name, got, self.expected[name])
            return fn

        def pme_write():
            _, lineitem = self._tables()
            pme.write_pme_distributed(lineitem, pme_path, self._pme_groups, footer_key=self.pme_footer)

        def pme_read():
            df = pme.read_pme_distributed(spark, pme_path, [self.pme_footer, *self._pme_groups])
            got, _ = _hash_action(df)
            _check("pme_read", got, self.expected["pme_read"])

        def ref_write(s):
            def fn():
                orders, _ = self._tables()
                shard = self._shard(self._orders_str(orders), s)
                write_reference_format(shard, str(ref_dir / f"part{s}.ref"), self.cfg, kms=self.ref_kms)
            return fn

        def ref_scan():
            df = (
                spark.read.format("reffile")
                .option("master_key_hex", k.master_key_hex)
                .option("column_keys", json.dumps(k.column_keys))
                .load(str(ref_dir))
            )
            got, _ = _hash_action(df)
            _check("ref_scan", got, self.expected["ref_scan"])

        def ref_read():
            df = read_reference_format(
                spark, str(ref_dir / f"part{self.ref_read_shard}.ref"), self.cfg,
                requested_columns=k.masked_request, kms=self.ref_kms,
            )
            got, _ = _hash_action(df)
            _check("ref_read", got, self.expected["ref_read"])

        reads = op_order(ctx.seed, ["cell_read_full", "cell_read_masked"])
        cell = [Op("cell_write", "encryption.io", cell_write)] + [
            Op(r, "encryption.io",
               cell_read(r, None if r == "cell_read_full" else k.masked_request))
            for r in reads
        ]
        pme_ops = [Op("pme_write", "encryption.pme", pme_write),
                   Op("pme_read", "encryption.pme", pme_read)]
        ref = [Op("ref_write", "encryption.reffile", ref_write(s))
               for s in op_order(ctx.seed, list(range(REF_SHARDS)))]
        ref += [Op("ref_scan", "operators.reffile_source", ref_scan),
                Op("ref_read", "encryption.reffile", ref_read)]
        groups = {"cell": cell, "pme": pme_ops, "ref": ref}
        return [op for g in op_order(ctx.seed, list(groups)) for op in groups[g]]

    def _note_plan(self, name: str, hdf: DataFrame) -> None:
        if self.ctx.tracer.enabled:
            self._hash_plans[name] = hdf._jdf.queryExecution().executedPlan().toString()

    def decrypt_exprs(self, name: str) -> int:
        """AES decrypt expressions in the executed plan of the last traced
        read ``name``."""
        return self._hash_plans.get(name, "").count("aesDecrypt(")

    def warmup(self) -> tuple[int, list[str]]:
        """The warm-up pass is an ordinary pass: every read is checked."""
        ops = self.ops()
        failures = []
        for op in ops:
            try:
                op.fn()
            except Exception as e:  # noqa: BLE001 - reported as a failed op
                failures.append(f"{op.name}: {e}")
        return len(ops), failures


class QueryWorkload:
    """Registered queries through the noop sink, oracle-checked in warm-up."""

    # Timed passes a run makes at least. A pass of the three vector_graph
    # queries is 5-7 s. The first timed pass still spends 10-25% more CPU
    # than the next ones; each op's median over three passes leaves it
    # out. Runs of one pass spread 0.22 (IQR/median, 10 seeds), runs of
    # three 0.08.
    passes = 3

    def __init__(self, name: str, query_names: list[str], ctx: Ctx):
        self.name = name
        self.ctx = ctx
        self.query_names = query_names
        self.oracle: dict[str, tuple[list[str], int, str]] = {}

    def kms_calls(self) -> tuple[int, int]:
        return 0, 0

    def stage(self) -> None:
        missing = [q for q in self.query_names if q not in self.ctx.queries]
        if missing:
            raise KeyError(f"queries not registered: {missing}")

    def prepare(self) -> None:
        import duckdb
        from check_oracle import canon_rows, value_hash

        from project_final_parquet_spark.registry import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        try:
            con.sql("SET threads TO 4")
            con.sql(f"SET temp_directory = '{self.ctx.out_dir / 'duckdb'}'")
            for t in sorted({p.stem for p in self.ctx.data_dir.glob("*.parquet")}):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.ctx.data_dir / (t + '.parquet')}')")
            for q in self.query_names:
                cols, rows = canon_rows(con.sql(oracles[q]).df())
                self.oracle[q] = (cols, len(rows), value_hash(rows))
        finally:
            con.close()

    def ops(self) -> list[Op]:
        ctx = self.ctx

        def run(q):
            def fn():
                with ctx.tracer.span(ctx.sc, "construct", "operators"):
                    df = ctx.queries[q](ctx.spark, str(ctx.data_dir))
                with ctx.tracer.span(ctx.sc, "execute", "operators"):
                    df.write.format("noop").mode("overwrite").save()
            return fn

        return [Op(q, "operators", run(q)) for q in op_order(ctx.seed, self.query_names)]

    def warmup(self) -> tuple[int, list[str]]:
        from check_oracle import canon_rows, value_hash

        ctx = self.ctx
        failures = []
        for q in op_order(ctx.seed, self.query_names):
            try:
                df = ctx.queries[q](ctx.spark, str(ctx.data_dir))
                # The timed op's own execution first: its plan is not the
                # collect's, and its first run compiles code the check's
                # does not.
                df.write.format("noop").mode("overwrite").save()
                cols, rows = canon_rows(df.toPandas())
                if (cols, len(rows), value_hash(rows)) != self.oracle[q]:
                    raise WrongResult(f"{q}: differs from its DuckDB oracle")
            except Exception as e:  # noqa: BLE001 - reported as a failed op
                failures.append(f"{q}: {e}")
        return len(self.query_names), failures


# The cheapest queries that cover a mapInArrow kernel (sim), mapInPandas
# and pandas_udf iterations (ml) and a localCheckpoint-ed edge list
# (graph). The other kernel and graph queries cost 2-8 s each at sf0.01;
# a run's time budget holds no more of them.
VECTOR_GRAPH = ["sim_pairs_label_block", "ml_kmeans", "graph_modularity_brands"]
QUERY_WORKLOADS = {"vector_graph": VECTOR_GRAPH}

WORKLOADS = ("enc_roundtrip", *QUERY_WORKLOADS)


def make(name: str, ctx: Ctx):
    if name == "enc_roundtrip":
        return EncRoundtrip(ctx)
    if name in QUERY_WORKLOADS:
        return QueryWorkload(name, QUERY_WORKLOADS[name], ctx)
    raise ValueError(f"unknown workload {name!r}; known: {WORKLOADS}")


# Calls a public function makes into another layer, timed by the traced
# run as spans of the callee's layer: (module, function, layer).
LAYER_CALLS = (
    (enc_io, "encrypt_columns", "encryption.cell"),
    (enc_io, "decrypt_columns", "encryption.cell"),
    (enc_io, "read_footer", "encryption.io"),
    (pme, "ensure_pme_jar", "encryption.pme"),
)

