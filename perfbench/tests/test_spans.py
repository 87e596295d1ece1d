import types

from spans import Tracer, count_py4j, wrap_modules


def test_self_time_subtracts_children_once():
    t = Tracer()
    root = t.add("op", 0.0, 10.0, None)
    t.add("build", 0.0, 4.0, root)
    t.add("exec", 3.0, 9.0, root)  # overlaps build by 1 s
    job = t.add("job", 5.0, 20.0, 2)  # clipped to exec's end
    self_times = t.self_times()
    assert self_times[root] == 1.0
    assert self_times[1] == 4.0
    assert self_times[2] == 2.0
    assert self_times[job] == 15.0


def test_spans_nest_by_call_order_and_count_py4j():
    t = Tracer()
    with t.span("op:a"):
        with t.span("build") as b:
            t.py4j_calls += 3
        with t.span("exec") as e:
            pass
    assert [s.parent for s in t.spans] == [None, 0, 0]
    assert b.attrs["py4j"] == 3 and e.attrs["py4j"] == 0
    assert t.spans[0].end >= e.end


def test_wrap_modules_opens_a_span_per_public_call():
    mod = types.ModuleType("fake_layer")

    def public(x):
        return helper(x) + 1

    def helper(x):
        return x * 2

    class Thing:
        def method(self):
            return public(1)

    for obj in (public, helper, Thing):
        obj.__module__ = "fake_layer"
    mod.public, mod._helper, mod.Thing = public, helper, Thing
    t = Tracer()
    wrap_modules(t, {"fake": [mod]})
    assert mod.public(1) == 3
    assert Thing().method() == 3
    names = [s.name for s in t.spans]
    assert names == ["module:fake", "module:fake"]
    assert mod._helper is helper  # private names stay unwrapped


def test_count_py4j_counts_client_round_trips():
    class Client:
        def send_command(self, cmd):
            return "ok:" + cmd

    gateway = types.SimpleNamespace(_gateway_client=Client())
    t = Tracer()
    count_py4j(t, gateway)
    assert gateway._gateway_client.send_command("x") == "ok:x"
    gateway._gateway_client.send_command("y")
    assert t.py4j_calls == 2


def test_wrap_modules_rebinds_names_imported_elsewhere(monkeypatch):
    import sys

    layer = types.ModuleType("pkg.layer")
    user = types.ModuleType("pkg.user")

    def f():
        return 1

    f.__module__ = "pkg.layer"
    layer.f = f
    user.f = f  # as after ``from pkg.layer import f``
    monkeypatch.setitem(sys.modules, "pkg.layer", layer)
    monkeypatch.setitem(sys.modules, "pkg.user", user)
    t = Tracer()
    wrap_modules(t, {"layer": [layer]}, package="pkg")
    assert user.f() == 1
    assert [s.name for s in t.spans] == ["module:layer"]
