"""End-to-end job runner test: CSV inputs → discovery → validate →
process → human/robot/rejected sinks → audit → state → archive."""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import pytest

from python_etl_mailing_automation_spark.config import PipelineConfig
from python_etl_mailing_automation_spark.pipeline.runner import run_mailing_job
from python_etl_mailing_automation_spark.schema import SchemaValidationError


@pytest.fixture()
def input_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "MAILING_NUCLEO_20260813.csv").write_text(
        "empresa;ucv;nomecad;ndoc;ncpf;ano;mes;liquido;loc;sit;faixa;iu12m;valor;bloq;dtvenc\n"
        "EPB;U1;Ana;d1;111;2026;8;100,50;NAT;LIGADO;Até 30;SIM;100,50;;05/01/2026\n"
        "EMT;U2;Bia;d2;222;2026;8;900,00;CGR;DESLIGADO;Até 90;NÃO;900,00;BLOQUEADO;15/02/2026\n"
        "EMT;U3;Caio;d3;333;2026;8;20,00;CGR;LIGADO;Até 30;NÃO;20,00;;01/03/2026\n",
        encoding="utf-8",
    )
    (d / "Pontuacao_fones.csv").write_text(
        "documento;telefone;pontuacao\nd1;84999990000;9\nd1;84999990001;5\n",
        encoding="utf-8",
    )
    (d / "Tabulacoes_retirar.csv").write_text(
        "idcliente;status\n333;CLIENTE FALECIDO\n", encoding="utf-8"
    )
    return d


def test_run_mailing_job_end_to_end(spark, input_dir, tmp_path):
    cfg = PipelineConfig(
        blocklist=["bloqueado"],
        priority_order=["DESLIGADO", "ATÉ 30"],
        corte_humano_maior_igual=50.0,
        critical_statuses=["CLIENTE FALECIDO"],
        critical_threshold=1,
        robot_time_slot_groups={"08_horas": ["EPB", "EMT"]},
    )
    out = tmp_path / "out"
    result = run_mailing_job(
        spark,
        cfg,
        input_dir=input_dir,
        output_dir=out,
        mailing_pattern="MAILING_NUCLEO_*.csv",
        enrichment_pattern="Pontuacao*.csv",
        regras_pattern="Tabulacoes*.csv",
        state_path=tmp_path / "state.json",
        make_archive=True,
    )
    # 111 -> human (100.5 >= 50); 222 blocked; 333 removed by tabulações.
    from datetime import datetime

    date_str = datetime.now().strftime(cfg.output_date_format)
    assert [p.name for p in result.human_files] == [
        f"{cfg.output_file_prefix}mailing_EPB_{date_str}.csv"
    ]
    human_csv = result.human_files[0].read_text(encoding="utf-8")
    assert "111" in human_csv and "BLOQUEADO" not in human_csv
    assert "84999990000" in human_csv  # enrichment phone landed
    assert result.metrics == {
        "human": 1, "robot": 0, "rejected": 1, "audit_leaks": 0,
    }
    rejected_lines = result.rejected_file.read_text(encoding="utf-8").splitlines()
    assert len(rejected_lines) == 2  # header + the one blocked row
    assert "motivo_remocao" in rejected_lines[0] and "BLOQUEADO" in rejected_lines[1]
    assert result.robot_files[0].name == (
        f"{cfg.robot_output_file_prefix}08_horas_{date_str}.csv"
    )
    assert result.archive is not None and result.archive.exists()
    assert (tmp_path / "state.json").exists()


def test_run_mailing_job_schema_contract(spark, input_dir, tmp_path):
    (input_dir / "MAILING_NUCLEO_99999999.csv").write_text(
        "empresa;ncpf\nEPB;1\n", encoding="utf-8"
    )
    with pytest.raises(SchemaValidationError):
        run_mailing_job(
            spark,
            PipelineConfig(),
            input_dir=input_dir,
            output_dir=tmp_path / "out2",
            mailing_pattern="MAILING_NUCLEO_99999999.csv",
        )


def test_audit_output_dir_file_level(spark, input_dir, tmp_path):
    """laudo tool parity: file-level audit of written outputs, skipping
    the rejects report."""
    from python_etl_mailing_automation_spark.pipeline.audit import audit_output_dir

    cfg = PipelineConfig(
        blocklist=["bloqueado"], corte_humano_maior_igual=50.0,
        critical_statuses=["CLIENTE FALECIDO"], critical_threshold=1,
    )
    out = tmp_path / "out_audit"
    run_mailing_job(
        spark, cfg, input_dir=input_dir, output_dir=out,
        mailing_pattern="MAILING_NUCLEO_*.csv",
        enrichment_pattern="Pontuacao*.csv", regras_pattern="Tabulacoes*.csv",
    )
    verdicts = audit_output_dir(spark, out, cfg.blocklist)
    assert len(verdicts) >= 2                      # human + robot files
    assert all(v.clean for v in verdicts)          # invariant holds
    assert not any(
        "rejeitados" in v.file.name for v in verdicts
    )  # rejects report skipped


def test_runner_fanout_reads_from_cache(spark, input_dir, tmp_path, monkeypatch):
    """Persist fix (VERDICT r1 #1): every sink family write must hit the
    persisted ``base`` (InMemoryRelation in the plan), not re-run the
    mailing DAG; caches are released afterwards. The metric counts that
    once had to hit the cache too are gone: the metrics are observed on
    these writes."""
    from python_etl_mailing_automation_spark.pipeline import runner as runner_mod
    from python_etl_mailing_automation_spark.sources.io import (
        write_exact_csv,
        write_partitioned_by_key,
    )

    captured = {}

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    def spy_write(df, out_path, **kw):
        captured[Path(out_path).name] = plan(df)
        return write_exact_csv(df, out_path, **kw)

    def spy_partitioned(df, out_dir, key_col, **kw):
        captured[Path(out_dir).name] = plan(df)
        return write_partitioned_by_key(df, out_dir, key_col, **kw)

    monkeypatch.setattr(runner_mod, "write_exact_csv", spy_write)
    monkeypatch.setattr(runner_mod, "write_partitioned_by_key", spy_partitioned)
    cfg = PipelineConfig(
        blocklist=["bloqueado"], corte_humano_maior_igual=50.0,
        robot_time_slot_groups={"08HRS": ["EPB", "EMT"]},
    )
    # Other tests in the shared session may hold their own caches; the
    # assertion below is that THIS run adds none. Compare ID SETS, not
    # sizes: the async ContextCleaner may release earlier tests' GC'd
    # caches mid-test, legitimately SHRINKING the map under load.
    def cached_ids():
        return set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toString()
            .strip("[]").replace(" ", "").split(",")
        ) - {""}

    baseline_cached = cached_ids()
    run_mailing_job(
        spark, cfg, input_dir=input_dir, output_dir=tmp_path / "out_cache",
        mailing_pattern="MAILING_NUCLEO_*.csv",
        enrichment_pattern="Pontuacao*.csv", regras_pattern="Tabulacoes*.csv",
    )
    # One write per sink family: human and robot are partitioned writes,
    # the rejects report a single-file write.
    assert sorted(captured) == [
        "humano", "rejeitados_por_status_de_bloqueio.csv", "robo"
    ]
    assert all("InMemoryRelation" in p for p in captured.values())
    # unpersist ran: no cached RDDs left behind by the job (cleaner
    # shrinkage of pre-existing ids is fine).
    assert cached_ids() <= baseline_cached


def test_runner_multisheet_enrichment(spark, input_dir, tmp_path, monkeypatch):
    """Multi-sheet workbook enrichment: every sheet feeds the phone union
    (data_loader.py:30-35,57-61). The Excel shim is faked (openpyxl is not
    in this environment); the wiring under test is runner-side."""
    from python_etl_mailing_automation_spark.sources import excel as excel_mod

    # Phone for d1 lives on sheet ONE, phone for d3 on sheet TWO.
    def fake_read_excel(spark_, path, *, sheet_name=0, normalize_headers=True):
        s1 = spark.createDataFrame(
            [("d1", "84911110000", "9")], ["documento", "telefone", "pontuacao"]
        )
        s2 = spark.createDataFrame(
            [("d3", "84922220000", "7")], ["documento", "telefone", "pontuacao"]
        )
        return {"Plan1": s1, "Plan2": s2} if sheet_name is None else s1

    monkeypatch.setattr(excel_mod, "read_excel", fake_read_excel)
    (input_dir / "Pontuacao_fones.csv").unlink()  # force the xlsx path
    (input_dir / "Pontuacao_fones.xlsx").write_bytes(b"fake workbook")

    cfg = PipelineConfig(corte_humano_maior_igual=0.0)
    result = run_mailing_job(
        spark, cfg, input_dir=input_dir, output_dir=tmp_path / "out_sheets",
        mailing_pattern="MAILING_NUCLEO_*.csv",
        enrichment_pattern="Pontuacao*.xlsx", regras_pattern="NO_MATCH_*",
    )
    text = "".join(p.read_text(encoding="utf-8") for p in result.human_files)
    assert "84911110000" in text  # sheet 1 phone
    assert "84922220000" in text  # sheet 2 phone — lost before this fix


def test_audit_archive_clean_and_leaky(spark, input_dir, tmp_path):
    """laudo zip parity (laudo.py:75-127): audit an existing run archive
    — extract, scan every CSV, skip the rejects report."""
    import shutil
    import zipfile

    from python_etl_mailing_automation_spark.pipeline.audit import (
        audit_archive,
        find_latest_archive,
    )

    cfg = PipelineConfig(
        blocklist=["bloqueado"], corte_humano_maior_igual=50.0,
        critical_statuses=["CLIENTE FALECIDO"], critical_threshold=1,
    )
    out = tmp_path / "mailing_run"
    result = run_mailing_job(
        spark, cfg, input_dir=input_dir, output_dir=out,
        mailing_pattern="MAILING_NUCLEO_*.csv",
        enrichment_pattern="Pontuacao*.csv", regras_pattern="Tabulacoes*.csv",
        make_archive=True,
    )
    # Clean case: the just-shipped archive holds no blocked status.
    verdicts = audit_archive(spark, result.archive, cfg.blocklist)
    assert verdicts and all(v.clean for v in verdicts)
    assert not any("rejeitados" in v.file.name for v in verdicts)

    # Discovery mirrors the laudo's newest-archive glob.
    assert find_latest_archive(tmp_path) == result.archive

    # Seeded leak: plant a blocked status inside a copy of the archive.
    leak_dir = tmp_path / "leak_src"
    leak_dir.mkdir()
    (leak_dir / "Mailing_X.csv").write_text(
        "CPF;bloq\n999;BLOQUEADO\n", encoding="utf-8"
    )
    leaky_zip = shutil.make_archive(str(tmp_path / "leaky"), "zip", leak_dir)
    leaky = audit_archive(spark, leaky_zip, cfg.blocklist)
    assert [v.leaks for v in leaky] == [1] and not leaky[0].clean

    # Corrupted archive surfaces as BadZipFile (laudo.py:88-90).
    bad = tmp_path / "bad.zip"
    bad.write_bytes(b"not a zip")
    with pytest.raises(zipfile.BadZipFile):
        audit_archive(spark, bad, cfg.blocklist)


def test_counted_report_renders_reference_table(spark, input_dir, tmp_path):
    """Per-stage counts + rendered report (logger_setup.py:27-77 parity):
    stage names match processing_pipeline.py:317-347, counts reconcile,
    and the rendered table carries the reference's layout."""
    cfg = PipelineConfig(
        blocklist=["bloqueado"], corte_humano_maior_igual=50.0,
        critical_statuses=["CLIENTE FALECIDO"], critical_threshold=1,
    )
    result = run_mailing_job(
        spark, cfg, input_dir=input_dir, output_dir=tmp_path / "out_report",
        mailing_pattern="MAILING_NUCLEO_*.csv",
        enrichment_pattern="Pontuacao*.csv", regras_pattern="Tabulacoes*.csv",
        state_path=tmp_path / "state_report.json", counted_report=True,
    )
    names = [s.name for s in result.report.stages]
    assert names == [
        "Carregamento de Dados",
        "Remoção por Tabulação",
        "Deduplicação por 'ncpf'",
        "Cálculo de Colunas Agregadas",
        "Enriquecimento de Telefones",
        "Criação de 'Cliente_Regulariza'",
        "Filtro de Bloqueio ('bloq')",
    ]
    by_name = {s.name: s for s in result.report.stages}
    assert by_name["Carregamento de Dados"].initial == 3
    assert by_name["Remoção por Tabulação"].removed == 1    # CPF 333 critical
    assert by_name["Filtro de Bloqueio ('bloq')"].removed == 1  # CPF 222 blocked
    assert by_name["Filtro de Bloqueio ('bloq')"].final == 1

    text = result.rendered_report
    assert "RELATÓRIO DE EXECUÇÃO DA AUTOMAÇÃO" in text
    assert "TABELA DE RESULTADOS" in text and "ANÁLISE DE OUTLIERS" in text
    assert f"| {'ETAPA DE PROCESSAMENTO':<40} | {'REMOVIDOS':>12} | {'RESTANTES':>12} |" in text
    assert f"| {'Registros Iniciais':<40} | {'-':>12} | {3:>12,} |" in text
    assert "primeira execução" in text  # no previous state

    # Second run: outlier analysis now compares against the saved state.
    result2 = run_mailing_job(
        spark, cfg, input_dir=input_dir, output_dir=tmp_path / "out_report2",
        mailing_pattern="MAILING_NUCLEO_*.csv",
        enrichment_pattern="Pontuacao*.csv", regras_pattern="Tabulacoes*.csv",
        state_path=tmp_path / "state_report.json", counted_report=True,
    )
    assert "Arquivos HUMANOS: Gerado 0.00% a mais" in result2.rendered_report


def test_human_file_rows_priority_ordered(spark, tmp_path):
    """O1 fidelity: rows inside each human file come out priority-sorted
    (level asc, debt desc) like the reference's final sort."""
    d = tmp_path / "in_ord"
    d.mkdir()
    d.joinpath("MAILING_NUCLEO_1.csv").write_text(
        "empresa;ucv;nomecad;ndoc;ncpf;ano;mes;liquido;loc;sit;faixa;iu12m;valor\n"
        "EPB;U1;A;d1;111;2026;8;10,00;NAT;LIGADO;Até 30;SIM;10,00\n"
        "EPB;U2;B;d2;222;2026;8;99,00;NAT;DESLIGADO;Até 90;NÃO;99,00\n"
        "EPB;U3;C;d3;333;2026;8;50,00;NAT;LIGADO;Até 30;NÃO;50,00\n",
        encoding="utf-8",
    )
    cfg = PipelineConfig(
        priority_order=["DESLIGADO", "ATÉ 30"], corte_humano_maior_igual=0.0
    )
    result = run_mailing_job(
        spark, cfg, input_dir=d, output_dir=tmp_path / "out_ord",
        mailing_pattern="MAILING_NUCLEO_*.csv",
    )
    lines = result.human_files[0].read_text(encoding="utf-8").splitlines()
    cpfs = [ln.split(";")[0] for ln in lines[1:]]
    # 222: DESLIGADO -> level 0 first; then level-1 rows by debt desc: 333 (50) before 111 (10)
    assert cpfs == ["222", "333", "111"]


_HEADER = "empresa;ucv;nomecad;ndoc;ncpf;ano;mes;liquido;loc;sit;faixa;iu12m;valor;bloq;dtvenc\n"


@pytest.mark.parametrize(
    "mailing_body, tabulacoes_body",
    [
        # Empty stages are where AQE's empty-relation propagation can drop
        # the stage observations; the report then counts the stage frames.
        pytest.param(
            "EPB;U1;Ana;d1;111;2026;8;100,50;NAT;LIGADO;Até 30;SIM;100,50;;05/01/2026\n"
            "EMT;U2;Bia;d2;222;2026;8;900,00;CGR;DESLIGADO;Até 90;NÃO;900,00;;15/02/2026\n"
            "EMT;U3;Caio;d3;333;2026;8;20,00;CGR;LIGADO;Até 30;NÃO;20,00;;01/03/2026\n",
            "idcliente;status\n111;CLIENTE FALECIDO\n222;CLIENTE FALECIDO\n"
            "333;CLIENTE FALECIDO\n",
            id="all_removed_by_tabulacao",
        ),
        pytest.param("", "idcliente;status\n333;CLIENTE FALECIDO\n", id="header_only"),
        pytest.param(
            "EPB;U1;Ana;d1;111;2026;8;100,50;NAT;LIGADO;Até 30;SIM;100,50;BLOQUEADO;05/01/2026\n"
            "EMT;U2;Bia;d2;222;2026;8;900,00;CGR;DESLIGADO;Até 90;NÃO;900,00;Bloqueado ;15/02/2026\n",
            "idcliente;status\n999;CLIENTE FALECIDO\n",
            id="all_blocked",
        ),
    ],
)
def test_stage_report_degenerate_inputs(
    spark, tmp_path, monkeypatch, mailing_body, tabulacoes_body
):
    """The observed stage report and the run's metrics match direct
    counts of every stage frame, of the human, robot and rejects frames
    and of the audit frame, also when a stage (or the whole input) is
    empty."""
    from python_etl_mailing_automation_spark.pipeline import runner as runner_mod
    from python_etl_mailing_automation_spark.pipeline.audit import audit_no_blocked_status

    d = tmp_path / "in"
    d.mkdir()
    (d / "MAILING_NUCLEO_1.csv").write_text(_HEADER + mailing_body, encoding="utf-8")
    (d / "Tabulacoes_retirar.csv").write_text(tabulacoes_body, encoding="utf-8")
    process_mailing = runner_mod.process_mailing
    seen = []

    def spy_process_mailing(*args, **kwargs):
        seen.append(process_mailing(*args, **kwargs))
        return seen[-1]

    monkeypatch.setattr(runner_mod, "process_mailing", spy_process_mailing)
    sunk = _spy_family_frames(monkeypatch, runner_mod)
    cfg = PipelineConfig(
        blocklist=["bloqueado"], corte_humano_maior_igual=50.0,
        critical_statuses=["CLIENTE FALECIDO"], critical_threshold=1,
    )
    result = run_mailing_job(
        spark, cfg, input_dir=d, output_dir=tmp_path / "out",
        mailing_pattern="MAILING_NUCLEO_*.csv", regras_pattern="Tabulacoes*.csv",
        counted_report=True,
    )
    frames = {name: frame for name, _, frame, _, _ in seen[0].stages.stages}
    assert [s.name for s in result.report.stages] == list(frames)
    assert {"Remoção por Tabulação", "Filtro de Bloqueio ('bloq')"} <= set(frames)
    prev = None
    for reported in result.report.stages:
        n = frames[reported.name].count()
        assert (reported.initial, reported.final) == (n if prev is None else prev, n), (
            reported.name
        )
        prev = n
    assert prev == 0 == result.metrics["human"]  # every case keeps no row
    assert "TABELA DE RESULTADOS" in result.rendered_report
    human = sunk["human"].drop(*[c for c in sunk["human"].columns if c.startswith("__ord_")])
    assert result.metrics == {
        "human": sunk["human"].count(),
        "robot": sunk["robot"].count(),
        "rejected": sunk["rejected"].count(),
        "audit_leaks": audit_no_blocked_status(human, cfg.blocklist).count(),
    }


def _spy_family_frames(monkeypatch, runner_mod) -> dict:
    """Capture the frames the runner hands to its three family sinks
    (the robot frame before its slot routing)."""
    sunk = {}
    write_partitioned = runner_mod.write_partitioned_by_key
    write_csv = runner_mod.write_exact_csv
    route = runner_mod.route_by_time_slot

    def spy_partitioned(df, out_dir, key_col, **kw):
        if Path(out_dir).name == "humano":
            sunk["human"] = df
        return write_partitioned(df, out_dir, key_col, **kw)

    def spy_write(df, out_path, **kw):
        sunk["human" if Path(out_path).parent.name == "humano" else "rejected"] = df
        return write_csv(df, out_path, **kw)

    def spy_route(robot, config, **kw):
        sunk["robot"] = robot
        return route(robot, config, **kw)

    monkeypatch.setattr(runner_mod, "write_partitioned_by_key", spy_partitioned)
    monkeypatch.setattr(runner_mod, "write_exact_csv", spy_write)
    monkeypatch.setattr(runner_mod, "route_by_time_slot", spy_route)
    return sunk


def test_stage_report_is_free(spark, input_dir, tmp_path, monkeypatch):
    """The report launches no Spark job of its own: a run that renders it
    launches as many jobs as one that does not, and process_mailing
    launches none."""
    from python_etl_mailing_automation_spark.pipeline import runner as runner_mod

    sc = spark.sparkContext
    process_mailing = runner_mod.process_mailing
    groups = []

    def grouped_process_mailing(*args, **kwargs):
        sc.setJobGroup(f"{groups[-1]}.mailing", "process_mailing")
        try:
            return process_mailing(*args, **kwargs)
        finally:
            sc.setJobGroup(groups[-1], "run_mailing_job")

    monkeypatch.setattr(runner_mod, "process_mailing", grouped_process_mailing)
    cfg = PipelineConfig(
        blocklist=["bloqueado"], corte_humano_maior_igual=50.0,
        critical_statuses=["CLIENTE FALECIDO"], critical_threshold=1,
        robot_time_slot_groups={"08HRS": ["EPB", "EMT"]},
    )
    jobs = {}
    try:
        for counted in (False, True):
            group = f"stage_report_free_{counted}"
            groups.append(group)
            sc.setJobGroup(group, "run_mailing_job")
            result = run_mailing_job(
                spark, cfg, input_dir=input_dir, output_dir=tmp_path / group,
                mailing_pattern="MAILING_NUCLEO_*.csv",
                enrichment_pattern="Pontuacao*.csv", regras_pattern="Tabulacoes*.csv",
                counted_report=counted,
            )
            assert len(result.report.stages) == 7
            assert (result.rendered_report is not None) == counted
            jobs[counted] = len(sc.statusTracker().getJobIdsForGroup(group))
            assert sc.statusTracker().getJobIdsForGroup(f"{group}.mailing") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs[True] == jobs[False] > 0


def test_run_counts_ride_on_the_writes(spark, tmp_path, monkeypatch):
    """The audit and the family counts launch no Spark job of their own:
    with the loads and the three family writes in job groups of their
    own (as perfbench/layers.py traces them), a run whose every family
    has rows launches no job outside them."""
    from python_etl_mailing_automation_spark.pipeline import runner as runner_mod

    d = tmp_path / "in"
    d.mkdir()
    (d / "MAILING_NUCLEO_1.csv").write_text(
        _HEADER
        + "EPB;U1;Ana;d1;111;2026;8;100,50;NAT;LIGADO;Até 30;SIM;100,50;;05/01/2026\n"
        "EMT;U2;Bia;d2;222;2026;8;900,00;CGR;DESLIGADO;Até 90;NÃO;900,00;BLOQUEADO;15/02/2026\n"
        "EMT;U4;Duda;d4;444;2026;8;20,00;CGR;LIGADO;Até 30;NÃO;20,00;;01/03/2026\n",
        encoding="utf-8",
    )
    sc = spark.sparkContext
    group = "counts_ride_on_the_writes"

    def grouped(name, fn):
        def wrapped(*args, **kwargs):
            sc.setJobGroup(f"{group}.{name}", name)
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setJobGroup(group, "run_mailing_job")

        return wrapped

    layers = ("_load_input", "write_partitioned_by_key", "write_exact_csv")
    for name in layers:
        monkeypatch.setattr(runner_mod, name, grouped(name, getattr(runner_mod, name)))
    cfg = PipelineConfig(
        blocklist=["bloqueado"], corte_humano_maior_igual=50.0,
        robot_time_slot_groups={"08HRS": ["EPB", "EMT"]},
    )
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup(group, "run_mailing_job")
        result = run_mailing_job(
            spark, cfg, input_dir=d, output_dir=tmp_path / "out",
            mailing_pattern="MAILING_NUCLEO_*.csv", counted_report=True,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # 111 -> human (100.5 >= 50), 444 -> robot, 222 blocked.
    assert result.metrics == {"human": 1, "robot": 1, "rejected": 1, "audit_leaks": 0}
    assert all(tracker.getJobIdsForGroup(f"{group}.{name}") for name in layers[1:])
    assert list(tracker.getJobIdsForGroup(group)) == []


def _mailing_rows(rows):
    """Mailing body lines for ``(empresa, ncpf, liquido)`` rows."""
    return "".join(
        f"{emp};U{cpf};N{cpf};d{cpf};{cpf};2026;8;{liq};NAT;LIGADO;Até 30;SIM;"
        f"{liq};;05/01/2026\n"
        for emp, cpf, liq in rows
    )


def _tree(root: Path) -> dict:
    """Every path under ``root`` with its bytes (None for a directory)."""
    return {
        p.relative_to(root).as_posix(): p.read_bytes() if p.is_file() else None
        for p in root.rglob("*")
    }


def test_failed_write_leaves_previous_outputs(spark, input_dir, tmp_path, monkeypatch):
    """Atomic publish: a run whose robot write fails publishes nothing,
    saves no state and leaves no staging dir behind, although its human
    write had already succeeded."""
    from python_etl_mailing_automation_spark.pipeline import runner as runner_mod

    cfg = PipelineConfig(
        blocklist=["bloqueado"], corte_humano_maior_igual=0.0,
        robot_time_slot_groups={"08HRS": ["EPB", "EMT"]},
    )
    out, state = tmp_path / "out", tmp_path / "state.json"
    kwargs = dict(
        input_dir=input_dir, output_dir=out,
        mailing_pattern="MAILING_NUCLEO_*.csv",
        enrichment_pattern="Pontuacao*.csv", regras_pattern="Tabulacoes*.csv",
        state_path=state, run_time=datetime(2026, 8, 14, 9, 0, 0),
    )
    first = run_mailing_job(spark, cfg, **kwargs)
    before, state_before = _tree(out), state.read_bytes()
    assert sorted(before) == sorted(
        [p.relative_to(out).as_posix() for p in first.human_files + first.robot_files]
        + ["humano", "robo", first.rejected_file.name]
    )

    # New inputs under the same file names: a published file would differ.
    (input_dir / "MAILING_NUCLEO_20260813.csv").write_text(
        _HEADER + _mailing_rows([("EPB", 111, "300,00"), ("EMT", 444, "70,00")]),
        encoding="utf-8",
    )
    partitioned = runner_mod.write_partitioned_by_key
    calls = []

    def robot_write_fails(df, out_dir, key_col, **kw):
        calls.append(Path(out_dir).name)
        if kw.get("sep") == "|":
            raise RuntimeError("robot sink down")
        return partitioned(df, out_dir, key_col, **kw)

    monkeypatch.setattr(runner_mod, "write_partitioned_by_key", robot_write_fails)
    with pytest.raises(RuntimeError, match="robot sink down"):
        run_mailing_job(spark, cfg, **kwargs)
    assert calls == ["humano", "robo"]  # the human family was written
    assert _tree(out) == before
    assert state.read_bytes() == state_before


@pytest.mark.parametrize(
    "slots",
    [
        pytest.param({"08HRS": ["EPB", "EMT", "ECO"], "09HRS": ["XYZ"]}, id="empty_slot"),
        pytest.param({"08HRS": ["EPB"], "09HRS": ["EPB", "EMT", "ECO"]}, id="overlapping_slots"),
        pytest.param({"08HRS": ["EPB"], "09HRS": ["EMT"]}, id="product_in_no_slot"),
    ],
)
def test_robot_slot_files_match_per_slot_filters(spark, tmp_path, monkeypatch, slots):
    """The one tagged robot write gives every configured slot the file a
    per-slot ``isin`` filter written with ``write_exact_csv`` gives:
    header-only for an empty slot, a product in every slot that lists
    it, a product in no slot nowhere. Robot rows have no defined order,
    so bodies compare sorted."""
    from pyspark.sql import functions as F

    from python_etl_mailing_automation_spark.pipeline import runner as runner_mod
    from python_etl_mailing_automation_spark.sources.io import write_exact_csv

    d = tmp_path / "in"
    d.mkdir()
    (d / "MAILING_NUCLEO_1.csv").write_text(
        _HEADER + _mailing_rows([
            ("EPB", 111, "10,00"), ("EPB", 222, "20,00"),
            ("EMT", 333, "30,00"), ("ECO", 444, "40,00"),
        ]),
        encoding="utf-8",
    )
    route = runner_mod.route_by_time_slot
    robots = []

    def spy_route(robot, config, **kw):
        robots.append(robot)
        return route(robot, config, **kw)

    monkeypatch.setattr(runner_mod, "route_by_time_slot", spy_route)
    cfg = PipelineConfig(corte_humano_maior_igual=0.0, robot_time_slot_groups=slots)
    out = tmp_path / "out"
    result = run_mailing_job(
        spark, cfg, input_dir=d, output_dir=out,
        mailing_pattern="MAILING_NUCLEO_*.csv", run_time=datetime(2026, 8, 14),
    )
    date_str = datetime(2026, 8, 14).strftime(cfg.output_date_format)
    assert [p.name for p in result.robot_files] == [
        f"{cfg.robot_output_file_prefix}{slot}_{date_str}.csv" for slot in slots
    ]
    assert sorted((out / "robo").iterdir()) == sorted(result.robot_files)
    for (slot, products), path in zip(slots.items(), result.robot_files):
        expected = write_exact_csv(
            robots[0].filter(F.col("PRODUTO").isin(products)),
            tmp_path / "expected" / path.name, sep="|",
        )
        header, *body = path.read_text(encoding="utf-8").splitlines()
        exp_header, *exp_body = expected.read_text(encoding="utf-8").splitlines()
        assert (header, sorted(body)) == (exp_header, sorted(exp_body)), slot
        if not exp_body:
            assert path.read_bytes() == expected.read_bytes() == f"{header}\n".encode()
        cpfs = {line.split("|")[0] for line in body}
        assert "444" not in cpfs or "ECO" in products


def test_sink_jobs_do_not_grow_with_keys(spark, tmp_path):
    """One partitioned write per sink family: a run over 6 products and
    3 slots launches as many Spark jobs as one over 2 products and 1
    slot."""
    sc = spark.sparkContext
    jobs = {}
    try:
        for n_products, n_slots in ((2, 1), (6, 3)):
            products = [f"P{i}" for i in range(n_products)]
            d = tmp_path / f"in_{n_products}"
            d.mkdir()
            (d / "MAILING_NUCLEO_1.csv").write_text(
                _HEADER + _mailing_rows(
                    [(p, 100 * i + j, f"{j + 1}0,00") for i, p in enumerate(products) for j in (1, 2)]
                ),
                encoding="utf-8",
            )
            cfg = PipelineConfig(
                corte_humano_maior_igual=0.0,
                robot_time_slot_groups={
                    f"{8 + s:02d}HRS": products[s::n_slots] for s in range(n_slots)
                },
            )
            group = f"sink_jobs_{n_products}"
            sc.setJobGroup(group, "run_mailing_job")
            result = run_mailing_job(
                spark, cfg, input_dir=d, output_dir=tmp_path / group,
                mailing_pattern="MAILING_NUCLEO_*.csv",
            )
            assert (len(result.human_files), len(result.robot_files)) == (n_products, n_slots)
            jobs[n_products] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs[2] == jobs[6] > 0


def test_rerun_compiles_no_code(spark, input_dir, tmp_path):
    """The session's generated-class cache holds a whole mailing job: a
    second run of the same job in the same session compiles no class
    (with Spark's default 100 entries it recompiled most of them)."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    cfg = PipelineConfig(
        blocklist=["bloqueado"], corte_humano_maior_igual=0.0,
        robot_time_slot_groups={"08HRS": ["EPB"], "10HRS": ["EMT"]},
    )
    compiled = []
    for run in ("first", "second"):
        run_mailing_job(
            spark, cfg, input_dir=input_dir, output_dir=tmp_path / run,
            mailing_pattern="MAILING_NUCLEO_*.csv",
            enrichment_pattern="Pontuacao*.csv", regras_pattern="Tabulacoes*.csv",
        )
        compiled.append(codegen.METRIC_COMPILATION_TIME().getCount())
    assert compiled[1] == compiled[0]
