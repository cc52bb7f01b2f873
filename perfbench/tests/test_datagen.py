"""The generator's model against a plain replay of its own events."""

import datagen


def _replay(seed, tables, events_per_file, files, **kw):
    """Apply the stream's events to full copies of the seed tables — the
    reference the lazy ``TableModel`` must agree with."""
    models = [datagen.TableModel(t, n) for t, n in tables.items()]
    stream = datagen.EventStream(seed, models, events_per_file, **kw)
    state = {t: {r[0]: list(r) for r in datagen.seed_rows(seed, t, n)}
             for t, n in tables.items()}
    seqs = []
    for _ in range(files):
        table, events = stream.next_file()
        seqs.append((table, [e[0] for e in events]))
        for kind, t, body in events:
            assert t == table
            if kind == "add":
                state[t][body[0]] = list(body)
            elif kind == "remove":
                del state[t][body]
            else:
                for row in state[t].values():
                    row.append(None)
    return models, state, seqs


def test_model_summary_equals_a_full_replay():
    tables = {"a": 300, "b": 50}
    models, state, _ = _replay(7, tables, 40, 30, alter_every=7)
    for m in models:
        want = {"rows": len(state[m.table]),
                "checksum": sum(datagen.row_checksum(r)
                                for r in state[m.table].values())}
        got = datagen.final_summary(datagen.seed_rows(7, m.table,
                                                      tables[m.table]),
                                    m.changed)
        assert got == want
        assert len(m) == want["rows"]
        assert all(len(r) == len(m.columns) for r in state[m.table].values())


def test_stream_is_a_function_of_the_seed():
    a = _replay(3, {"t": 100}, 20, 10)[2]
    b = _replay(3, {"t": 100}, 20, 10)[2]
    c = _replay(4, {"t": 100}, 20, 10)[2]
    assert a == b
    assert a != c


def test_files_rotate_tables_and_open_with_the_alter():
    _, _, seqs = _replay(1, {"a": 10, "b": 10}, 5, 6, alter_every=3)
    assert [t for t, _ in seqs] == ["a", "b", "a", "b", "a", "b"]
    assert [kinds[0] == "ddl" for _, kinds in seqs] == \
        [False, False, True, False, False, True]


def test_checksum_skips_nulls_like_concat_ws():
    assert datagen.row_checksum([1, None, "x"]) == \
        datagen.row_checksum([1, "x"])
