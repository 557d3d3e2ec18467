"""Driver-heap sizing of the session factory (no Spark started)."""

import io

from anomalydetection_spark import session


def _meminfo(monkeypatch, text):
    def fake_open(path, *a, **k):
        assert path == "/proc/meminfo"
        if text is None:
            raise FileNotFoundError(path)
        return io.StringIO(text)

    monkeypatch.setattr(session, "open", fake_open, raising=False)


def test_default_driver_mem_is_a_third_of_the_host_capped_at_12g(monkeypatch):
    _meminfo(monkeypatch, "MemTotal:       16479424 kB\nMemFree: 1 kB\n")
    assert session.default_driver_mem() == "5364m"  # 15.7 GiB host
    _meminfo(monkeypatch, "MemTotal:       263856128 kB\n")
    assert session.default_driver_mem() == "12288m"  # 251 GiB host: the cap
    _meminfo(monkeypatch, None)
    assert session.default_driver_mem() == "12288m"  # unreadable: the cap
    _meminfo(monkeypatch, "MemFree: 1 kB\n")
    assert session.default_driver_mem() == "12288m"
