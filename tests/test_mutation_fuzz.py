"""Seeded randomized MUTATION gauntlet: a ~30-op program drawn over
every table verb the engine has — append, merge (upserts/deletes with
op codes), update_where, positional DELETE, replace_partitions,
rollback_to_snapshot, and the maintenance planes (conversion,
delete-plane compaction, sorted rewrite, expiration + orphan sweep) —
applied in lock-step to the Iceberg table AND a Python-dict model,
with full-state equality asserted after every mutating op.

The per-plane tests prove each verb in isolation and the soak
gauntlets prove curated compositions; this file covers the
combinatorial seams none of those enumerate (update after rollback,
replace over merge debt, delete of freshly-replaced rows, compaction
between any two of them) under DETERMINISTIC seeds, so a failure
replays exactly.
"""

from __future__ import annotations

import random

import pytest

from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
    bucket_hash_long,
    commit_position_deletes,
    convert_equality_deletes,
    expire_snapshots,
    merge_upsert,
    read_iceberg_table,
    read_table_metadata,
    remove_orphan_files,
    replace_partitions,
    rewrite_data_files,
    rewrite_position_deletes,
    rollback_to_snapshot,
    update_where,
    write_iceberg_table,
)

N_BUCKETS = 4
SPEC = [("id_bucket", f"bucket[{N_BUCKETS}]", "id")]


def _bkt(i: int) -> int:
    return (bucket_hash_long(i) & 0x7FFFFFFF) % N_BUCKETS


def _df(spark, rows, schema="id bigint, grp bigint, v bigint"):
    return spark.createDataFrame(rows, schema)


def _state(spark, tdir):
    return {
        r["id"]: (r["grp"], r["v"])
        for r in read_iceberg_table(spark, tdir).collect()
    }


#: Seeds whose programs also read every step in the join form. A
#: join-form read builds one broadcast frame per attach (a Spark job
#: each), about 2 s a step on four cores, so one seed per program.
JOIN_FORM_SEEDS = {7, 101}


def _in_both_attach_forms(read, join_form_block, attach_calls):
    """``read()`` at the default attach budget and again with every
    merge-on-read metadata attach in its broadcast-join form: both must
    agree. Appends the join-form attach calls to ``attach_calls``, so
    a program can assert that the join form really ran."""
    got = read()
    with join_form_block() as calls:
        joined = read()
    attach_calls.extend(calls)
    assert joined == got, "join-form read diverged from the literal form"
    return got


@pytest.mark.parametrize("seed", [7, 23])
def test_random_mutation_program_matches_model(
    spark, tmp_path, seed, join_form_block
):
    rng = random.Random(seed)
    tdir = str(tmp_path / f"fuzz-{seed}")
    ms = [1_000]

    def tick() -> int:
        ms[0] += 1_000
        return ms[0]

    model: dict[int, tuple[int, int]] = {
        i: (i % 5, i * 10) for i in range(60)
    }
    write_iceberg_table(
        spark,
        _df(spark, [(i, g, v) for i, (g, v) in model.items()]),
        tdir, now_ms=tick(), partition_spec=SPEC,
    )
    next_id = [1_000]
    # live lineage for rollback: (snapshot_id, model copy) per commit
    lineage = [(read_table_metadata(tdir)["metadata"]["current-snapshot-id"],
                dict(model))]

    def committed(meta) -> None:
        head = meta["current-snapshot-id"]
        if head != lineage[-1][0]:
            lineage.append((head, dict(model)))

    def op_append():
        rows = []
        for _ in range(rng.randint(2, 8)):
            next_id[0] += 1
            i = next_id[0]
            rows.append((i, i % 5, i * 3))
            model[i] = (i % 5, i * 3)
        committed(write_iceberg_table(
            spark, _df(spark, rows), tdir, now_ms=tick(),
            partition_spec=SPEC,
        ))

    def op_merge():
        live = sorted(model)
        rows = []
        for i in rng.sample(live, min(len(live), rng.randint(2, 6))):
            if rng.random() < 0.4:
                rows.append((i, None, None, "d", 1))
                model.pop(i)
            else:
                g, v = i % 5, rng.randint(0, 10_000)
                rows.append((i, g, v, "u", 1))
                model[i] = (g, v)
        for _ in range(rng.randint(0, 3)):
            next_id[0] += 1
            i = next_id[0]
            rows.append((i, i % 5, i * 7, "i", 1))
            model[i] = (i % 5, i * 7)
        committed(merge_upsert(
            spark, _df(spark, rows,
                       "id bigint, grp bigint, v bigint, op string, seq bigint"),
            tdir, on=["id"], op_col="op", seq_col="seq",
            partition_spec=SPEC, now_ms=tick(),
        ))

    def op_update():
        m, r, c = rng.randint(2, 7), rng.randint(0, 1), rng.randint(1, 99)
        meta = update_where(
            spark, tdir, f"id % {m} = {r}", {"v": f"v + {c}"},
            now_ms=tick(),
        )
        for i in list(model):
            if i % m == r:
                g, v = model[i]
                model[i] = (g, v + c)
        committed(meta)  # lineage snapshots record the POST-op model

    def op_delete():
        m, r = rng.randint(3, 9), rng.randint(0, 2)
        meta = commit_position_deletes(
            spark, tdir, f"id % {m} = {r}", now_ms=tick()
        )
        for i in list(model):
            if i % m == r:
                model.pop(i)
        committed(meta)

    def op_replace():
        rows = []
        for _ in range(rng.randint(1, 4)):
            next_id[0] += 1
            i = next_id[0]
            rows.append((i, i % 5, -i))
        cells = {_bkt(i) for i, _g, _v in rows}
        meta = replace_partitions(
            spark, _df(spark, rows), tdir, now_ms=tick()
        )
        for i in list(model):
            if _bkt(i) in cells:
                model.pop(i)
        for i, g, v in rows:
            model[i] = (g, v)
        committed(meta)

    def op_rollback():
        if len(lineage) < 2:
            return
        j = rng.randrange(len(lineage) - 1)
        snap, snap_model = lineage[j]
        rollback_to_snapshot(tdir, snap, now_ms=tick())
        model.clear()
        model.update(snap_model)
        del lineage[j + 1:]

    def op_maintain():
        which = rng.randrange(4)
        if which == 0:
            convert_equality_deletes(spark, tdir, now_ms=tick())
        elif which == 1:
            rewrite_position_deletes(spark, tdir, now_ms=tick())
        elif which == 2:
            committed(rewrite_data_files(
                spark, tdir, now_ms=tick(), sort_by=["id"]
            ))
        else:
            expire_snapshots(tdir, keep_last=4, now_ms=tick())
            remove_orphan_files(tdir, older_than_timestamp_ms=10**14)
            alive = {
                s["snapshot-id"]
                for s in read_table_metadata(tdir)["metadata"]["snapshots"]
            }
            lineage[:] = [e for e in lineage if e[0] in alive]

    ops = (
        [op_append] * 4 + [op_merge] * 6 + [op_update] * 4
        + [op_delete] * 3 + [op_replace] * 2 + [op_rollback] * 2
        + [op_maintain] * 4
    )
    trace = []
    attach_calls: list[str] = []
    for step in range(28):
        op = rng.choice(ops)
        trace.append(op.__name__)
        op()
        if seed in JOIN_FORM_SEEDS:
            got = _in_both_attach_forms(
                lambda: _state(spark, tdir), join_form_block, attach_calls
            )
        else:
            got = _state(spark, tdir)
        assert got == model, (
            f"seed={seed} diverged at step {step} ({op.__name__}); "
            f"trace={trace}; extra={sorted(set(got) - set(model))[:5]}, "
            f"missing={sorted(set(model) - set(got))[:5]}"
        )
    assert model  # the program kept a non-trivial table throughout
    # some join-form read attached per-file metadata
    assert attach_calls or seed not in JOIN_FORM_SEEDS


@pytest.mark.parametrize("seed", [101])
def test_random_ddl_program_matches_model(
    spark, tmp_path, seed, join_form_block
):
    """DDL-heavy seeded program (r12): add / drop / promote / RENAME /
    explicit re-add of dropped names interleaved with appends, merges,
    row-level updates, and maintenance — the model tracks the CURRENT
    schema (column set, types, renames by identity) alongside the row
    state, so a resurrection (a re-added or re-used name serving a
    dropped column's physical values) or a lost rename diverges
    immediately."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        update_table_schema,
    )

    rng = random.Random(seed)
    tdir = str(tmp_path / f"ddlfuzz-{seed}")
    ms = [1_000]

    def tick() -> int:
        ms[0] += 1_000
        return ms[0]

    # current schema (beyond id); model rows mirror it via .get
    cols: dict[str, str] = {"grp": "long", "v": "long"}
    dropped: list[str] = []
    n_new = [0]
    next_id = [1_000]
    model: dict[int, dict] = {
        i: {"grp": i % 5, "v": i * 10} for i in range(40)
    }

    _SPARK_T = {"long": "bigint", "int": "int", "string": "string"}

    def ddl_schema(extra: str = "") -> str:
        return (
            "id bigint, "
            + ", ".join(f"{c} {_SPARK_T[t]}" for c, t in cols.items())
            + extra
        )

    def gen_val(i: int, c: str, t: str):
        if t == "string":
            return f"{c}-{i}"
        return (i * (len(c) + 1)) % 100_000

    def snap_state():
        got = {
            r["id"]: tuple(r[c] for c in cols)
            for r in read_iceberg_table(spark, tdir).collect()
        }
        exp = {
            i: tuple(d.get(c) for c in cols) for i, d in model.items()
        }
        return got, exp

    write_iceberg_table(
        spark,
        _df(spark, [(i, d["grp"], d["v"]) for i, d in model.items()]),
        tdir, now_ms=tick(), partition_spec=SPEC,
    )

    def op_append():
        rows = []
        for _ in range(rng.randint(2, 6)):
            next_id[0] += 1
            i = next_id[0]
            d = {c: gen_val(i, c, t) for c, t in cols.items()}
            rows.append((i, *[d[c] for c in cols]))
            model[i] = d
        write_iceberg_table(
            spark, _df(spark, rows, ddl_schema()), tdir,
            now_ms=tick(), partition_spec=SPEC,
        )

    def op_merge():
        live = sorted(model)
        rows = []
        for i in rng.sample(live, min(len(live), rng.randint(2, 5))):
            if rng.random() < 0.3:
                rows.append((i, *[None] * len(cols), "d"))
                model.pop(i)
            else:
                d = {c: gen_val(i + 17, c, t) for c, t in cols.items()}
                rows.append((i, *[d[c] for c in cols], "u"))
                model[i] = d
        merge_upsert(
            spark, _df(spark, rows, ddl_schema(", op string")),
            tdir, on=["id"], op_col="op", partition_spec=SPEC,
            now_ms=tick(),
        )

    def op_update():
        nums = [c for c, t in cols.items() if t in ("long", "int")]
        if not nums:
            return
        c = rng.choice(nums)
        m, r, k = rng.randint(2, 7), rng.randint(0, 1), rng.randint(1, 99)
        update_where(
            spark, tdir, f"id % {m} = {r}", {c: f"{c} + {k}"},
            now_ms=tick(),
        )
        for i, d in model.items():
            if i % m == r and d.get(c) is not None:
                d[c] = d[c] + k  # NULL + k stays NULL, like SQL

    def op_add():
        n_new[0] += 1
        name, t = f"c{n_new[0]}", rng.choice(["long", "int", "string"])
        update_table_schema(tdir, add=[(name, t)], now_ms=tick())
        cols[name] = t  # existing rows read null (model: .get -> None)

    def op_readd():
        cand = [n for n in dropped if n not in cols]
        if not cand:
            return
        name, t = rng.choice(cand), rng.choice(["long", "string"])
        update_table_schema(tdir, add=[(name, t)], now_ms=tick())
        cols[name] = t
        for d in model.values():
            d.pop(name, None)  # pre-drop values must NOT resurrect

    def op_drop():
        cand = [c for c in cols]
        if len(cand) < 2:
            return
        name = rng.choice(cand)
        update_table_schema(tdir, drop=[name], now_ms=tick())
        del cols[name]
        dropped.append(name)
        for d in model.values():
            d.pop(name, None)

    def op_rename():
        old = rng.choice(list(cols))
        hist = [n for n in dropped if n not in cols and n != old]
        if hist and rng.random() < 0.4:
            new = rng.choice(hist)  # rename TO a historical name
        else:
            n_new[0] += 1
            new = f"r{n_new[0]}"
        update_table_schema(tdir, rename={old: new}, now_ms=tick())
        cols[new] = cols.pop(old)
        for d in model.values():
            if old in d:
                d[new] = d.pop(old)

    def op_promote():
        ints = [c for c, t in cols.items() if t == "int"]
        if not ints:
            return
        c = rng.choice(ints)
        update_table_schema(tdir, promote={c: "long"}, now_ms=tick())
        cols[c] = "long"

    def op_maintain():
        if rng.random() < 0.5:
            rewrite_data_files(spark, tdir, now_ms=tick(), sort_by=["id"])
        else:
            expire_snapshots(tdir, keep_last=3, now_ms=tick())
            remove_orphan_files(tdir, older_than_timestamp_ms=10**14)

    ops = (
        [op_append] * 4 + [op_merge] * 3 + [op_update] * 3
        + [op_add] * 3 + [op_drop] * 2 + [op_rename] * 4
        + [op_readd] * 2 + [op_promote] * 2 + [op_maintain] * 2
    )
    trace = []
    attach_calls: list[str] = []
    for step in range(24):
        op = rng.choice(ops)
        trace.append(op.__name__)
        op()
        if seed in JOIN_FORM_SEEDS:
            got, exp = _in_both_attach_forms(
                snap_state, join_form_block, attach_calls
            )
        else:
            got, exp = snap_state()
        assert got == exp, (
            f"seed={seed} diverged at step {step} ({op.__name__}); "
            f"trace={trace}; cols={cols}; "
            f"extra={sorted(set(got) - set(exp))[:5]}, "
            f"missing={sorted(set(exp) - set(got))[:5]}"
        )
    assert model and len(cols) >= 1
    assert any(t == "op_rename" for t in trace)  # the program renamed
    # some join-form read attached per-file metadata
    assert attach_calls or seed not in JOIN_FORM_SEEDS


@pytest.mark.parametrize("seed", [211])
def test_random_nested_ddl_program_matches_model(spark, tmp_path, seed):
    """NESTED-DDL seeded program (r13): renames of struct fields by
    dotted path — to fresh names AND to historical nested names of
    OTHER field ids — plus renames of the struct column itself,
    nested adds via evolution-on-write, merges, row updates, and
    maintenance, with the model tracking nested values by CURRENT
    name so a mis-resolved epoch (a nested value served under the
    wrong id, or a historical name resurrecting another field's
    physical column) diverges immediately."""
    from tiered_storage_for_apache_kafka_spark.sources.iceberg import (
        update_table_schema,
    )

    rng = random.Random(seed)
    tdir = str(tmp_path / f"nestedfuzz-{seed}")
    ms = [1_000]

    def tick() -> int:
        ms[0] += 1_000
        return ms[0]

    env = ["env"]  # current name of the struct column
    nf: dict[str, str] = {"ts": "long", "src": "string"}  # env children
    af: dict[str, str] = {"u": "long", "w": "string"}  # arr elem fields
    hist_nested: list[str] = []  # nested names renamed away
    hist_arr: list[str] = []  # arr element names renamed away (r13)
    n_new = [0]
    next_id = [2_000]

    _SPARK_T = {"long": "bigint", "int": "int", "string": "string"}

    def gen_val(i: int, c: str, t: str):
        if t == "string":
            return f"{c}-{i % 7}"
        return (i * (len(c) + 1)) % 100_000

    def gen_arr(i: int) -> list[dict]:
        return [
            {c: gen_val(i * 7 + j, c, t) for c, t in af.items()}
            for j in range(2)
        ]

    model: dict[int, dict] = {
        i: {
            "grp": i % 5, "ts": i * 10, "src": f"s{i % 3}",
            "__arr": [
                {"u": (i * 7 + j) * 2 % 100_000, "w": f"w-{(i * 7 + j) % 7}"}
                for j in range(2)
            ],
        }
        for i in range(30)
    }

    def schema_str(extra: str = "") -> str:
        inner = ", ".join(f"{c}:{_SPARK_T[t]}" for c, t in nf.items())
        a_inner = ", ".join(f"{c}:{_SPARK_T[t]}" for c, t in af.items())
        return (
            f"id bigint, grp bigint, {env[0]} struct<{inner}>, "
            f"arr array<struct<{a_inner}>>" + extra
        )

    def row_tuple(i: int, d: dict):
        return (
            i, d["grp"], tuple(d.get(c) for c in nf),
            [tuple(ad.get(c) for c in af) for ad in d["__arr"]],
        )

    def snap_state():
        got = {
            r["id"]: (
                r["grp"],
                tuple(
                    None if r[env[0]] is None else r[env[0]][c]
                    for c in nf
                ),
                tuple(
                    tuple(e[c] for c in af) for e in (r["arr"] or [])
                ),
            )
            for r in read_iceberg_table(spark, tdir).collect()
        }
        exp = {
            i: (
                d["grp"],
                tuple(d.get(c) for c in nf),
                tuple(
                    tuple(ad.get(c) for c in af) for ad in d["__arr"]
                ),
            )
            for i, d in model.items()
        }
        return got, exp

    write_iceberg_table(
        spark,
        _df(spark, [row_tuple(i, d) for i, d in model.items()],
            schema_str()),
        tdir, now_ms=tick(), partition_spec=SPEC,
    )

    def op_append():
        rows = []
        for _ in range(rng.randint(2, 5)):
            next_id[0] += 1
            i = next_id[0]
            d = {"grp": i % 5}
            d |= {c: gen_val(i, c, t) for c, t in nf.items()}
            d["__arr"] = gen_arr(i)
            model[i] = d
            rows.append(row_tuple(i, d))
        write_iceberg_table(
            spark, _df(spark, rows, schema_str()), tdir,
            now_ms=tick(), partition_spec=SPEC,
        )

    def op_append_evolve():
        # evolution-on-write ADDS a nested field inside the struct
        n_new[0] += 1
        name, t = f"n{n_new[0]}", rng.choice(["long", "string", "int"])
        nf[name] = t  # old rows read null (model .get -> None)
        op_append()

    def op_nested_promote():
        ints = [c for c, t in nf.items() if t == "int"]
        if not ints:
            return
        c = rng.choice(ints)
        update_table_schema(
            tdir, promote={f"{env[0]}.{c}": "long"}, now_ms=tick()
        )
        nf[c] = "long"  # values unchanged; old int32 pages up-cast

    def op_merge():
        live = sorted(model)
        rows = []
        for i in rng.sample(live, min(len(live), rng.randint(2, 4))):
            if rng.random() < 0.3:
                rows.append((i, None, None, None, "d"))
                model.pop(i)
            else:
                d = {"grp": i % 5}
                d |= {c: gen_val(i + 31, c, t) for c, t in nf.items()}
                d["__arr"] = gen_arr(i + 31)
                model[i] = d
                rows.append((*row_tuple(i, d), "u"))
        merge_upsert(
            spark, _df(spark, rows, schema_str(", op string")),
            tdir, on=["id"], op_col="op", partition_spec=SPEC,
            now_ms=tick(),
        )

    def op_update():
        m, r, k = rng.randint(2, 7), rng.randint(0, 1), rng.randint(1, 99)
        update_where(
            spark, tdir, f"id % {m} = {r}", {"grp": f"grp + {k}"},
            now_ms=tick(),
        )
        for i, d in model.items():
            if i % m == r:
                d["grp"] = d["grp"] + k

    def op_nested_rename():
        old = rng.choice(list(nf))
        cand = [n for n in hist_nested if n not in nf and n != old]
        if cand and rng.random() < 0.4:
            new = rng.choice(cand)  # a historical nested name —
            # must bind to THIS id only, never resurrect the old id's
            # physical column
        else:
            n_new[0] += 1
            new = f"r{n_new[0]}"
        update_table_schema(
            tdir, rename={f"{env[0]}.{old}": new}, now_ms=tick()
        )
        hist_nested.append(old)
        nf[new] = nf.pop(old)
        for d in model.values():
            if old in d:
                d[new] = d.pop(old)

    def op_env_rename():
        n_new[0] += 1
        new = f"e{n_new[0]}"
        update_table_schema(tdir, rename={env[0]: new}, now_ms=tick())
        env[0] = new

    def op_nested_drop():
        if len(nf) < 2:
            return  # dropping the last nested field refuses
        name = rng.choice(list(nf))
        update_table_schema(
            tdir, drop=[f"{env[0]}.{name}"], now_ms=tick()
        )
        hist_nested.append(name)
        del nf[name]
        for d in model.values():
            d.pop(name, None)  # dropped values must never resurrect

    def op_maintain():
        if rng.random() < 0.5:
            rewrite_data_files(spark, tdir, now_ms=tick(), sort_by=["id"])
        else:
            expire_snapshots(tdir, keep_last=3, now_ms=tick())
            remove_orphan_files(tdir, older_than_timestamp_ms=10**14)

    def op_arr_rename():
        # r13: rename a struct field INSIDE the array's element — to a
        # fresh name, or to a historical element name of another id
        old = rng.choice(list(af))
        cand = [n for n in hist_arr if n not in af and n != old]
        if cand and rng.random() < 0.4:
            new = rng.choice(cand)
        else:
            n_new[0] += 1
            new = f"a{n_new[0]}"
        update_table_schema(
            tdir, rename={f"arr.element.{old}": new}, now_ms=tick()
        )
        hist_arr.append(old)
        af[new] = af.pop(old)
        for d in model.values():
            for ad in d["__arr"]:
                if old in ad:
                    ad[new] = ad.pop(old)

    def op_arr_drop():
        if len(af) < 2:
            return
        name = rng.choice(list(af))
        update_table_schema(
            tdir, drop=[f"arr.element.{name}"], now_ms=tick()
        )
        hist_arr.append(name)
        del af[name]
        for d in model.values():
            for ad in d["__arr"]:
                ad.pop(name, None)

    ops = (
        [op_append] * 4 + [op_append_evolve] * 2 + [op_merge] * 3
        + [op_update] * 2 + [op_nested_rename] * 4 + [op_env_rename] * 2
        + [op_nested_drop] * 2 + [op_nested_promote] * 2
        + [op_arr_rename] * 3 + [op_arr_drop] * 1
        + [op_maintain] * 2
    )
    trace = []
    for step in range(26):
        op = rng.choice(ops)
        trace.append(op.__name__)
        op()
        got, exp = snap_state()
        diff = {
            i: (got.get(i), exp.get(i))
            for i in set(got) | set(exp)
            if got.get(i) != exp.get(i)
        }
        assert got == exp, (
            f"seed={seed} diverged at step {step} ({op.__name__}); "
            f"trace={trace}; env={env[0]}; nf={nf}; "
            f"diff(got,exp)={dict(sorted(diff.items())[:4])}"
        )
    assert any(t == "op_nested_rename" for t in trace)
    assert any(t == "op_arr_rename" for t in trace)

