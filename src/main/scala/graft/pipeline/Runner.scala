package graft.pipeline

import scala.util.control.NonFatal

/** Sequential step runner (SURVEY.md §3.1; ≙ the reference's Airflow
  * DAG chain with a Slack `on_failure_callback`,
  * `export_svg.py:71-77,703-716`, `helper.py:7-37`).
  *
  * Steps run one after another in list order. A failure invokes the
  * callback with (step name, error) — the Slack-alert analogue — and
  * aborts every later step (matching Airflow's downstream-skip).
  */
object Runner {

  case class Step(name: String, run: () => Unit)

  final class StepFailed(val step: String, cause: Throwable)
    extends RuntimeException(s"step '$step' failed: ${cause.getMessage}", cause)

  /** @param steps     run in order
    * @param onFailure failure callback (≙ helper.slack_alert) */
  def run(steps: Seq[Step],
          onFailure: (String, Throwable) => Unit = (_, _) => ()): Unit =
    steps.foreach { s =>
      try s.run()
      catch {
        case NonFatal(e) =>
          onFailure(s.name, e)
          throw new StepFailed(s.name, e)
      }
    }
}
