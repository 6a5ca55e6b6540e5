"""The reference pipeline end-to-end, Spark-first: one declarative
program from raw workbook frame to the four normalized outputs.

Reference lifecycle being re-expressed (SURVEY.md §3):
``etl_transformacao`` (``/root/reference/etl_process.py:194-224``) +
the four loaders (:29-191). Differences by design:

- one cached cleaned frame fans out to all four outputs (the
  reference recomputes via toPandas, :217);
- FK resolution is two broadcast joins instead of ~6,000 SELECTs;
- per-row SAVEPOINT error isolation becomes the validate-and-split
  quarantine channel (operators/quality.py);
- id generation: outputs either omit surrogate ids (JDBC sink's
  sequences assign, matching the reference) or take engine-side
  ``row_number`` ids via ``with_surrogate_ids`` for sink-independent
  runs.

Documented quirk decisions (SURVEY.md §2 "semantic quirks"):
- phones: read as strings; the reference's ``str(float)`` artifacts
  ("nan", trailing ".0") are treated as a fixed bug. The legacy
  behavior remains available via operators/clean.stringify_legacy for
  fidelity comparisons.
- ``UF[:2]``: kept (sink column is varchar(2)); a state-name → ISO-2
  mapping belongs in a curated dimension, not string surgery.
- ``Vencimento or 10``: replicated as NULL-or-0 -> 10.
- ``Isento``/``Status`` from the sheet: the reference ignores both and
  hard-codes False/1 (:120,:123); ``honest_flags=True`` derives them
  from the data instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..hints import constant_size
from ..operators.clean import (
    digits_only,
    normalize_headers,
    phone_normalize,
    with_defaults,
)
from ..operators.dedup import dedup_deterministic
from ..operators.ids import surrogate_ids
from ..operators.joins import fk_lookup
from ..operators.reshape import extract_dimension, unpivot

# Seed lookups mirroring the schema's seeded rows
# (docker/schema_database_pgsql.sql:320-325, :332-336).
STATUS_SEED = [
    (1, "Ativo"),
    (2, "Velocidade Reduzida"),
    (3, "Suspenso"),
    (4, "Cancelado"),
]
TIPOS_SEED = [(1, "Telefone"), (2, "Celular"), (3, "E-Mail")]


def transform(raw: DataFrame, legacy_phone_quirk: bool = False) -> DataFrame:
    """Raw sheet -> cleaned, deduplicated frame
    (etl_process.py:197-215 semantics, native expressions only)."""
    df = normalize_headers(raw)
    df = df.withColumn("cpf_cnpj", digits_only("CPF_CNPJ"))
    if legacy_phone_quirk:
        from ..operators.clean import stringify_legacy

        df = df.withColumn("Celulares", phone_normalize(stringify_legacy("Celulares")))
        df = df.withColumn("Telefones", phone_normalize(stringify_legacy("Telefones")))
    else:
        df = df.withColumn("Celulares", phone_normalize(F.col("Celulares").cast("string")))
        df = df.withColumn("Telefones", phone_normalize(F.col("Telefones").cast("string")))
    df = (
        df.withColumn("Data_Nasc", F.to_date("Data_Nasc"))
        .withColumn("Data_Cadastro_cliente", F.to_date("Data_Cadastro_cliente"))
        .withColumn("Plano_Valor", F.col("Plano_Valor").cast("decimal(15,2)"))
    )
    df = with_defaults(df, {"UF": "Desconhecido", "Plano": "Plano Desconhecido"})
    # deterministic survivor (reference keeps an arbitrary one, :213)
    return dedup_deterministic(
        df, ["cpf_cnpj"], [F.col("Data_Cadastro_cliente"), F.col("Nome_Razão_Social")]
    )


def _seed_df(spark: SparkSession, rows, id_col: str, value_col: str) -> DataFrame:
    return spark.createDataFrame(rows, schema=f"{id_col} INT, {value_col} STRING")


def build_outputs(
    cleaned: DataFrame, honest_flags: bool = False
) -> dict[str, DataFrame]:
    """Cleaned frame -> {planos, clientes, contratos, contatos,
    quarantine_contratos, metrics} in FK dependency order
    (README.md:118: planos -> clientes -> contratos -> contatos).

    The cleaned frame is cached by the caller before fan-out."""
    spark = cleaned.sparkSession

    planos = extract_dimension(
        cleaned.select(F.col("Plano").alias("descricao"), F.col("Plano_Valor").alias("valor")),
        "descricao",
        ["valor"],
    )

    clientes = cleaned.select(
        F.col("Nome_Razão_Social").alias("nome_razao_social"),
        F.col("Nome_Fantasia").alias("nome_fantasia"),
        "cpf_cnpj",
        F.col("Data_Nasc").alias("data_nascimento"),
        F.col("Data_Cadastro_cliente").alias("data_cadastro"),
    )

    # engine-side surrogate ids for sink-independent runs; a JDBC sink
    # with sequences would instead read ids back after the load.
    # surrogate_ids produces exactly row_number() OVER (ORDER BY key)
    # but through a distributed range-sort — no single-partition
    # window, so the same code path holds on a 100 TB entity table.
    # Each call sorts and materializes its keys once, HERE (jobs run
    # at build time); every consumer (both fk_lookup joins, the
    # contratos/contatos fan-out, any later action on the outputs)
    # reads that one copy, so all of them see the same ids.
    cliente_ids = surrogate_ids(
        clientes.select("cpf_cnpj"), ["cpf_cnpj"], "cliente_id"
    )
    plano_ids = surrogate_ids(
        planos.select("descricao"), ["descricao"], "plano_id"
    )

    status = _seed_df(spark, STATUS_SEED, "status_id", "status")

    # cliente_ids scales with the entity table (one row per customer)
    # -> no broadcast hint; the cpf-keyed shuffle join is the 100 TB
    # shape and AQE still broadcasts it at small SF. The plan catalog
    # stays a true dimension (bounded), so that join keeps the hint.
    enriched, missing_cliente = fk_lookup(
        cleaned, cliente_ids, "cpf_cnpj", broadcast=False
    )
    enriched, missing_plano = fk_lookup(
        enriched.withColumnRenamed("Plano", "descricao"), plano_ids, "descricao"
    )
    quarantine = missing_cliente.select(
        "cpf_cnpj", F.lit("Cliente não encontrado").alias("erro")
    ).unionAll(
        missing_plano.select("cpf_cnpj", F.lit("Plano não encontrado").alias("erro"))
    )

    if honest_flags:
        enriched = enriched.join(
            constant_size(status), enriched["Status"] == status["status"], "left"
        ).withColumn("isento_val", F.col("Isento") == "Sim")
        status_col = F.coalesce(F.col("status_id"), F.lit(1))
        isento_col = F.coalesce(F.col("isento_val"), F.lit(False))
    else:
        # reference hard-codes both (etl_process.py:120,:123)
        status_col = F.lit(1)
        isento_col = F.lit(False)

    day = F.col("Vencimento")
    contratos = enriched.select(
        "cliente_id",
        "plano_id",
        F.when(day.isNull() | (day == 0), 10).otherwise(day).alias("dia_vencimento"),
        isento_col.alias("isento"),
        F.coalesce(F.col("Endereço"), F.lit("")).alias("endereco_logradouro"),
        F.coalesce(F.col("Número"), F.lit("")).alias("endereco_numero"),
        F.coalesce(F.col("Bairro"), F.lit("")).alias("endereco_bairro"),
        F.coalesce(F.col("Cidade"), F.lit("")).alias("endereco_cidade"),
        F.coalesce(F.col("Complemento"), F.lit("")).alias("endereco_complemento"),
        F.coalesce(F.col("CEP"), F.lit("")).alias("endereco_cep"),
        F.substring(F.coalesce(F.col("UF"), F.lit("")), 1, 2).alias("endereco_uf"),
        status_col.alias("status_id"),
    )

    contatos = unpivot(
        enriched,
        ["cliente_id"],
        {"Telefone": ("Telefones", 1), "Celular": ("Celulares", 2), "E-Mail": ("Emails", 3)},
    )
    # drop artifacts of empty sources ('' after clean; 'nan' only under
    # the legacy quirk, which the reference would have inserted — we
    # filter it, documented as a bug fix)
    contatos = contatos.filter(~F.col("contato").isin("", "nan"))

    metrics = cleaned.agg(
        F.count(F.lit(1)).alias("registros"),
        F.countDistinct("cpf_cnpj").alias("clientes_distintos"),
    )

    return {
        "planos": planos,
        "clientes": clientes,
        "contratos": contratos,
        "contatos": contatos,
        "quarantine_contratos": quarantine,
        "metrics": metrics,
    }


def transform_with_observation(raw: DataFrame):
    """Like :func:`transform`, but attaches a pyspark Observation so
    run metrics (rows in, distinct keys, null plano count) come out of
    the SAME job that computes the result — no extra counting actions
    (upgrades the reference's post-hoc count at etl_process.py:215).

    Returns ``(cleaned, observation)``; read ``observation.get`` after
    the first action on ``cleaned``.
    """
    from pyspark.sql import Observation

    obs = Observation("etl_metrics")
    df = normalize_headers(raw)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.approx_count_distinct("CPF_CNPJ").alias("approx_keys_in"),
        F.sum(F.when(F.col("Plano").isNull(), 1).otherwise(0)).alias("null_planos"),
    )
    return transform(observed), obs
