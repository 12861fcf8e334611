"""Generator determinism: the same workload and seed give the same parquet
content checksum in separate processes; another seed gives another corpus. Builds the harness and starts a
small JVM per corpus (about 10 s each).

    python3 -m unittest discover -s enginebench/tests
"""
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import build  # noqa: E402
import run  # noqa: E402


def generate(workload: str, seed: int) -> dict:
    classes = build.build(quiet=True)
    jars = build.spark_jars()
    build.BUILD.mkdir(parents=True, exist_ok=True)
    out = Path(tempfile.mkdtemp(prefix="gen-", dir=build.BUILD))
    try:
        opens = [x for p in run.JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        (out / "tmp").mkdir()
        proc = subprocess.run(
            ["java", "-Xmx1g", f"-Djava.io.tmpdir={out / 'tmp'}"] + opens +
            ["-cp", f"{classes}:{jars}/*", "enginebench.GenMain", workload, str(seed), str(out)],
            cwd=build.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            timeout=300)
        if proc.returncode != 0:
            raise AssertionError(f"generator exited {proc.returncode}")
        return dict(line.split("=", 1) for line in proc.stdout.splitlines() if "=" in line)
    finally:
        shutil.rmtree(out, ignore_errors=True)


class CorpusDeterminismTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        try:
            build.spark_jars()
            build.sources()
        except build.BuildError as e:
            raise unittest.SkipTest(str(e))

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a = generate("incr_stream", 7)
        b = generate("incr_stream", 7)
        c = generate("incr_stream", 8)
        self.assertEqual(a["checksum"], b["checksum"])
        self.assertNotEqual(a["checksum"], c["checksum"])
        self.assertEqual(int(a["files"]), 3)

    def test_input_properties_follow_the_shape(self):
        p = {k: float(v) for k, v in generate("incr_stream", 11).items() if k != "checksum"}
        self.assertEqual(p["docs"], 2400)
        self.assertAlmostEqual(p["tokens_per_doc"], 60, delta=6)
        self.assertAlmostEqual(p["dup_mass_share"], 0.25, delta=0.03)
        self.assertAlmostEqual(p["boilerplate_share"], 0.07, delta=0.02)


if __name__ == "__main__":
    unittest.main()
