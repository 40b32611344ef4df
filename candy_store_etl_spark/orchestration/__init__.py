from .candy_dag import (
    CANDY_DAG_TASKS,
    StageContext,
    build_airflow_dag,
    run_dag,
    run_stage,
    run_stages,
    stage_outputs,
    topological_order,
)
from .maintenance import (
    MaintenanceReport,
    MaintenanceTarget,
    maintenance_sweep,
)

__all__ = [
    "CANDY_DAG_TASKS",
    "MaintenanceReport",
    "MaintenanceTarget",
    "StageContext",
    "build_airflow_dag",
    "maintenance_sweep",
    "run_dag",
    "run_stage",
    "run_stages",
    "stage_outputs",
    "topological_order",
]
