package graft.functions

import java.time.{DayOfWeek, LocalDate, LocalDateTime, LocalTime, MonthDay}

/** Business-hours duration between two timestamps.
  *
  * Semantics mirror the reference's `calculate_time_spent(busdays_only=true)`
  * (`/root/reference/tracker_exporter/utils/helpers.py:40-73`): sum the
  * overlap of [start, end] with working windows (default Mon–Fri,
  * 09:00–22:00) on non-holiday days, absolute value, whole seconds.
  *
  * The calendar is pluggable data, not a library: Russian public holidays
  * (the fixed federal dates Jan 1–8, Feb 23, Mar 8, May 1, May 9, Jun 12,
  * Nov 4) are generated for any year — matching the reference's
  * `holidays.RU()` rule set for the fixed-date holidays it uses.
  *
  * Spark evaluates it through the [[graft.plans.BusinessSeconds]]
  * expression, which calls [[businessSeconds]] on the micros of its two
  * timestamp operands.
  */
object BusinessTime extends Serializable {

  /** Default work-window config (reference `config.py:193-195`).
    *
    * `holidayDates` covers recurring fixed-date holidays; `extraHolidays`
    * takes full `LocalDate`s so a year-specific calendar (weekend
    * substitutions, decreed non-working days — what `holidays.RU()`
    * resolves per year in the reference) can be injected as data.
    */
  final case class Calendar(
      startHour: Int = 9,
      endHour: Int = 22,
      workDays: Set[DayOfWeek] = Set(
        DayOfWeek.MONDAY, DayOfWeek.TUESDAY, DayOfWeek.WEDNESDAY,
        DayOfWeek.THURSDAY, DayOfWeek.FRIDAY),
      holidayDates: Set[MonthDay] = ruFixedHolidays,
      extraHolidays: Set[LocalDate] = Set.empty
  ) extends Serializable {
    def isWorkday(d: LocalDate): Boolean =
      workDays.contains(d.getDayOfWeek) &&
        !holidayDates.contains(MonthDay.from(d)) &&
        !extraHolidays.contains(d)
  }

  val ruFixedHolidays: Set[MonthDay] = Set(
    (1, 1), (1, 2), (1, 3), (1, 4), (1, 5), (1, 6), (1, 7), (1, 8),
    (2, 23), (3, 8), (5, 1), (5, 9), (6, 12), (11, 4)
  ).map { case (m, d) => MonthDay.of(m, d) }

  /** Absolute business seconds between two naive datetimes. */
  def businessSeconds(a: LocalDateTime, b: LocalDateTime, cal: Calendar = Calendar()): Long = {
    if (a == null || b == null) return 0L
    val (start, end) = if (a.isBefore(b)) (a, b) else (b, a)
    val open = LocalTime.of(cal.startHour, 0)
    val close = LocalTime.of(cal.endHour, 0)
    var day = start.toLocalDate
    var total = 0L
    while (!day.isAfter(end.toLocalDate)) {
      if (cal.isWorkday(day)) {
        val winStart = LocalDateTime.of(day, open)
        val winEnd = LocalDateTime.of(day, close)
        val s = if (start.isAfter(winStart)) start else winStart
        val e = if (end.isBefore(winEnd)) end else winEnd
        if (e.isAfter(s)) total += java.time.Duration.between(s, e).getSeconds
      }
      day = day.plusDays(1)
    }
    total
  }
}
